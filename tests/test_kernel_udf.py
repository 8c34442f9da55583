"""The kernel UDF: one Arrow batch through ``kg_process_batches``
without Spark, ``ok`` semantics that do not depend on whether the
blank-node label map is asked for, the map itself, and the eviction of
PySpark's zip finders that every task body runs."""

import hashlib
import json
import os
import subprocess
import sys
import zipfile
from importlib import resources
from pathlib import Path

import pyarrow as pa
import pytest

from cbor_ld_spark.functions.udfs import (
    _process_one,
    kg_process_batches,
    python_task,
)
from cbor_ld_spark.kernel import content_sha256, parse_json_document
from cbor_ld_spark.kernel.expand import expand_to_triples
from cbor_ld_spark.kernel.loader import StaticLoader
from perfbench.corpus import BAD_KINDS, generate

TRIPLE_COLS = ("t_subj", "t_pred", "t_obj", "t_is_iri", "t_dt", "t_lang",
               "t_graph")
MAP_COLS = ("t_bnode", "t_canon")
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


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_bnode_map_depends_only_on_doc_sha(seed):
    """A document with its keys reversed at every level and re-indented
    keeps its doc_sha and its blank-node -> canonical label map, which
    is what lets one map per doc_sha stand for every copy."""
    def reverse(v):
        if isinstance(v, dict):
            return {k: reverse(v[k]) for k in reversed(list(v))}
        if isinstance(v, list):
            return [reverse(x) for x in v]
        return v

    checked = 0
    for row in generate(seed, 400):
        if row.kind not in ("valid", "fixture"):
            continue
        r = _process_one(row.content, 1, True)
        assert r[1], (row.path, r[2])
        if not r[15]:
            continue
        flipped = json.dumps(reverse(parse_json_document(row.content)),
                             indent=3)
        assert flipped != row.content
        f = _process_one(flipped, 1, True)
        assert f[0] == r[0], row.path
        assert dict(zip(f[15], f[16])) == dict(zip(r[15], r[16])), row.path
        checked += 1
    assert checked > 50


def test_canonical_map_keeps_quarantine_kinds():
    """Asking for the label map changes no document's outcome: the bad
    rows and a null quarantine with the same kinds, and the clean rows
    return the same 15 leading fields with a map that names exactly the
    blank nodes of their triples."""
    rows = _batch_inputs()
    batch = pa.RecordBatch.from_arrays(
        [pa.array([None] * len(rows), pa.string()),
         pa.array([c for _, c in rows], pa.string())],
        names=["content_sha", "content"])
    plain, canon = (
        next(kg_process_batches(canonical=c)(iter([batch]))).to_pylist()
        for c in (False, True))
    for (name, _), p, c in zip(rows, plain, canon):
        assert (c["ok"], c["error_kind"]) == (p["ok"], p["error_kind"]), name
        assert p["t_bnode"] is None and p["t_canon"] is None
        if not p["ok"]:
            assert c["t_bnode"] is None and c["t_canon"] is None, name
            continue
        assert ({k: v for k, v in c.items() if k not in MAP_COLS}
                == {k: v for k, v in p.items() if k not in MAP_COLS}), name
        bnodes = {x for x in p["t_subj"] + p["t_graph"] if x.startswith("_:")}
        bnodes |= {o for o, i in zip(p["t_obj"], p["t_is_iri"])
                   if i and o.startswith("_:")}
        assert set(c["t_bnode"]) == bnodes, name
        assert all(x.startswith("_:g") for x in c["t_canon"]), name
    assert {p["error_kind"] for p in plain} == {
        None, *SAMPLE_KINDS.values(), *BAD_KINDS.values(), "InvalidContent"}


_MAPS = StaticLoader({"https://ctx.example/maps": {"@context": {
    "name": "https://ex.org/name",
    "friends": {"@id": "https://ex.org/friends", "@container": "@id"},
    "byType": {"@id": "https://ex.org/byType", "@container": "@type"},
}}})


@pytest.mark.parametrize("prop,kind,canonical", [
    pytest.param(prop, kind, canonical,
                 id=f"{prop}-{kind}" + ("-canonical" if canonical else ""))
    for prop, kind in [("friends", "InvalidIdMapValue"),
                       ("byType", "InvalidTypeMapValue")]
    for canonical in (False, True)])
def test_ok_covers_expansion_with_and_without_triples(monkeypatch, prop, kind,
                                                      canonical):
    """A map container whose value maps a defined term to a string encodes
    and round-trips (the encoder reads the map as a node), but expansion
    rejects it: the kernel must say so, with or without the canonical
    label map, and return no triples."""
    monkeypatch.setattr(StaticLoader, "default", staticmethod(lambda: _MAPS))
    content = json.dumps({"@context": "https://ctx.example/maps",
                          prop: {"name": "just-a-string"}})
    r = _process_one(content, 1, canonical)
    doc_sha, ok, _error, error_kind, _json_len, cbor_len, roundtrip_ok, \
        n_triples = r[:8]
    assert (ok, error_kind) == (False, kind)
    assert cbor_len and roundtrip_ok and n_triples == 0
    assert r[8:] == (None,) * 9
    assert r == _process_one(content, 1, not canonical)


_EVICTION_PROBE = """
import importlib, json, sys, zipimport
import pyspark.worker
import cbor_ld_spark.functions.udfs as udfs
import zpkg_probe.sub

def archives():
    return sorted({f.archive for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter)})

before = archives()
udfs.evict_pyspark_zip_finders()
after = archives()
importlib.invalidate_caches()
fresh = "pyspark.ml.linalg" not in sys.modules
import pyspark.ml.linalg
print(json.dumps({
    "pyspark": sys.modules["pyspark"].__loader__.archive,
    "py4j": sys.modules["py4j"].__loader__.archive,
    "before": before, "after": after, "fresh": fresh,
    "origin": pyspark.ml.linalg.__spec__.origin,
}))
"""


def test_evict_pyspark_zip_finders_in_worker_layout(tmp_path):
    """With PySpark and py4j imported from their zips and Spark's core jar
    on the path, as in a Python worker, the helper drops exactly the
    finders of those archives: a user zip keeps its finder, and a pyspark
    module not yet imported still loads from the zip after
    ``importlib.invalidate_caches()``."""
    import pyspark

    home = Path(pyspark.__file__).parent
    spark_archives = [home / "python" / "lib" / "pyspark.zip",
                      *sorted((home / "python" / "lib").glob("py4j-*.zip")),
                      *sorted((home / "jars").glob("spark-core_*.jar"))]
    if len(spark_archives) != 3 or not spark_archives[0].is_file():
        pytest.skip("pyspark.zip, py4j zip or Spark core jar not installed")
    user_zip = tmp_path / "user.zip"
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("zpkg_probe/__init__.py", "")
        z.writestr("zpkg_probe/sub.py", "X = 1\n")
    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        map(str, [*spark_archives, repo, user_zip])))
    out = subprocess.run([sys.executable, "-c", _EVICTION_PROBE],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=120, check=True)
    r = json.loads(out.stdout.splitlines()[-1])
    assert [r["pyspark"], r["py4j"]] == list(map(str, spark_archives[:2]))
    assert set(map(str, [*spark_archives, user_zip])) <= set(r["before"])
    assert r["after"] == [str(user_zip)]
    assert r["fresh"]
    assert r["origin"].startswith(r["pyspark"] + os.sep)


def test_kernel_task_leaves_no_pyspark_zip_finders(spark):
    """A task body run through ``python_task`` -- here the kernel fn,
    then a lazy import of a module no worker has imported yet, which
    re-creates the finders of Spark's archives -- leaves no zip finder
    (this session adds no zip of its own, so any left is one of Spark's)
    for the next task's ``invalidate_caches()`` to re-read: none at the
    end of any task, and none at the start of a task whose worker ran an
    earlier pass.  Spark hands out idle workers first in, first out, so
    a pass may first drain workers that earlier tests' own bodies left
    holding finders, and six passes bring workers round again."""
    samples = resources.files("cbor_ld_spark") / "fixtures" / "samples"
    content = (samples / "truage.jsonld").read_text(encoding="utf-8")
    kernel = kg_process_batches()

    @python_task
    def body(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        one = pa.RecordBatch.from_arrays(
            [pa.array(["sha"]), pa.array([content])],
            names=["content_sha", "content"])
        (out,) = list(kernel(iter([one])))
        assert out.column("ok").to_pylist() == [True]
        import colorsys  # noqa: F401 -- a lazy import inside the body
        yield out

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        def finders():
            return sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())

        at_start = finders()
        for _ in body(batches):
            pass
        from_zip = hasattr(sys.modules["pyspark"].__loader__, "archive")
        yield pa.RecordBatch.from_arrays(
            [pa.array([from_zip]), pa.array([at_start], pa.int64()),
             pa.array([finders()], pa.int64()),
             pa.array([os.getpid()], pa.int64())],
            names=["from_zip", "finders_at_start", "finders_left", "pid"])

    df = spark.range(0, 8, numPartitions=4).mapInArrow(
        probe, "from_zip boolean, finders_at_start long, finders_left long, "
               "pid long")
    passes = [df.collect() for _ in range(6)]
    assert all(len(rows) == 4 for rows in passes)
    if not any(r.from_zip for r in passes[0]):
        pytest.skip("Python workers do not import pyspark from a zip")
    assert [r.finders_left for rows in passes for r in rows] == [0] * 24
    ran, reused = set(), []
    for rows in passes:
        reused += [r.finders_at_start for r in rows if r.pid in ran]
        ran |= {r.pid for r in rows}
    assert len(reused) >= 4, passes
    assert reused == [0] * len(reused), passes
