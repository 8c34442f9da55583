"""The kg_query CLI end to end over a parquet triples table: each query
shape the CLI ever offered, written as the one SPARQL string it takes."""

import importlib.util
import io
import os
import sys

_DATA = [
    ("c1", "issuer", "org1"), ("c1", "subject", "p1"),
    ("c2", "issuer", "org2"), ("c2", "subject", "p2"),
    ("c3", "issuer", "org1"),  # no subject
    ("p1", "age", "21"), ("p2", "age", "65"),
    ("x", "loves", "x"), ("y", "loves", "z"),
]


def test_kg_query_cli_end_to_end(spark, tmp_path):
    """BGP with FILTER, NOT EXISTS, a property path unbound and with a
    ground subject or object (the seeded tier), UNION groups and
    GROUP BY/HAVING, all against the same tiny KG."""
    tdir = str(tmp_path / "triples")
    spark.createDataFrame(
        [r + ("g",) for r in _DATA],
        "subj string, pred string, obj string, graph string",
    ).write.parquet(tdir)
    spec = importlib.util.spec_from_file_location(
        "kg_query", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs", "kg_query.py"))
    kg_query = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(kg_query)

    def run(query):
        buf, old = io.StringIO(), sys.stdout
        sys.stdout = buf
        try:
            rc = kg_query.main(["--triples", tdir, "--sparql", query])
        finally:
            sys.stdout = old
        assert rc == 0
        return buf.getvalue().strip().splitlines()

    lines = run("SELECT ?c ?p ?a WHERE { ?c <subject> ?p . ?p <age> ?a . "
                "FILTER(cast(a as int) >= 50) }")
    assert lines[0] == "c\tp\ta" and lines[1:] == ["c2\tp2\t65"]

    lines = run("SELECT ?c ?i WHERE { ?c <issuer> ?i . "
                "FILTER NOT EXISTS { ?c <subject> ?s } }")
    assert lines[1:] == ["c3\torg1"]

    lines = run("SELECT ?src ?dst WHERE { ?src ^<issuer>/<subject> ?dst }")
    assert lines[0] == "src\tdst"
    assert set(lines[1:]) == {"org1\tp1", "org2\tp2"}

    # a ground endpoint runs the seeded tier
    lines = run("SELECT ?dst WHERE { <org1> ^<issuer>/<subject> ?dst }")
    assert lines[1:] == ["p1"]
    lines = run("SELECT ?src WHERE { ?src ^<issuer>/<subject> p2 }")
    assert lines[1:] == ["org2"]

    lines = run("SELECT * WHERE { { ?c <issuer> ?i } UNION "
                "{ ?c <subject> ?i . ?i <age> ?a } }")
    assert lines[0] == "c\ti\ta"
    # NULL prints as "" (the buffer strip drops a trailing tab on the
    # last line) — compare rstripped
    assert {ln.rstrip("\t") for ln in lines[1:]} == {
        "c1\torg1", "c2\torg2", "c3\torg1",
        "c1\tp1\t21", "c2\tp2\t65"}

    lines = run("SELECT ?i (COUNT(DISTINCT ?c) AS ?n_creds) WHERE "
                "{ ?c <issuer> ?i } GROUP BY ?i HAVING(?n_creds > 1)")
    assert lines[0] == "i\tn_creds" and lines[1:] == ["org1\t2"]
