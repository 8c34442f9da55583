"""The query algebra (``operators/algebra``) from parse to plan: group
members and path steps are typed entries, never told apart by a string
tag or by their shape; a pattern term is never a query token; and a
null ends a path the same way under every path strategy."""

import ast
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
TAGS = {"__path__", "__group__"}
SHAPE_TESTS = {"_is_path", "_is_group", "_is_alt_groups"}


def _encoding_lines(source: str) -> list[int]:
    """Lines that hold a ``TAGS`` string or name one of
    ``SHAPE_TESTS``."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Constant):
            bad = node.value in TAGS
        elif isinstance(node, ast.Name):
            bad = node.id in SHAPE_TESTS
        elif isinstance(node, ast.Attribute):
            bad = node.attr in SHAPE_TESTS
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            bad = node.name in SHAPE_TESTS
        elif isinstance(node, ast.ImportFrom):
            bad = any(a.name in SHAPE_TESTS for a in node.names)
        else:
            continue
        if bad:
            lines.append(node.lineno)
    return lines


def test_no_tag_or_shape_encoded_entries():
    """No module under ``cbor_ld_spark/`` or ``jobs/`` tells an entry
    apart by a string tag or a shape test."""
    hits = [f"{path.relative_to(ROOT)}:{line}"
            for top in ("cbor_ld_spark", "jobs")
            for path in sorted((ROOT / top).rglob("*.py"))
            for line in _encoding_lines(path.read_text())]
    assert hits == []


def test_scan_flags_each_encoding():
    src = ('entry = ("__path__", steps, s, o)\n'
           'if pat[0] == "__group__":\n'
           "    pass\n"
           "def _is_group(preds):\n"
           "    return bgp._is_alt_groups(preds)\n"
           "from .sparql import _is_path\n"
           'x = "__paths__"\n'
           "is_path = isinstance(e, Path)\n")
    assert sorted(_encoding_lines(src)) == [1, 2, 4, 5, 6]


def _triples(spark, rows):
    return spark.createDataFrame(
        [r + ("g",) for r in rows],
        "subj string, pred string, obj string, graph string")


def test_optional_member_spelled_group_is_a_pattern(spark):
    """A one-member OPTIONAL whose subject is the literal ``__group__``
    is a plain left-joined pattern."""
    from cbor_ld_spark.operators.bgp import match_bgp
    from cbor_ld_spark.operators.sparql import parse_sparql, run_sparql

    t = _triples(spark, [("s1", "r", "o1"), ("__group__", "q", "o1"),
                         ("s2", "r", "o2")])
    text = "SELECT * WHERE { ?s <r> ?o . OPTIONAL { __group__ <q> ?o } }"
    spec = parse_sparql(text)
    assert spec["optional"] == [("__group__", "q", "?o")]
    want = {("s1", "o1"), ("s2", "o2")}
    assert {tuple(r) for r in run_sparql(t, text).collect()} == want
    out = match_bgp(t, [("?s", "r", "?o")],
                    optional=[("__group__", "q", "?o")])
    assert {tuple(r) for r in out.collect()} == want


@pytest.mark.parametrize("text", [
    "SELECT * WHERE { ?s <p> ?o . ?s FILTER (?o > 1) }",
    "SELECT * WHERE { ?s <p> ?o . ?s FILTER(?o > 1) }",
    "SELECT * WHERE { ?s <p> BIND(1 AS ?x) }",
    "SELECT * WHERE { ?s OPTIONAL ?o }",
    "SELECT * WHERE { ?s <p> . }",
    "SELECT * WHERE { ?s <p> } }",
    "SELECT * WHERE { ?s <p> { ?x <q> ?y } }",
    "SELECT * WHERE { GRAPH UNION { ?s <p> ?o } }",
    "DESCRIBE FILTER(?x) <a>",
])
def test_query_token_is_never_a_term(text):
    """``.``, a brace and a keyword (``KW(`` call forms included) end a
    pattern or open a member; read where a term belongs, they reject
    the query."""
    from cbor_ld_spark.operators.sparql import parse_sparql

    with pytest.raises(ValueError, match="where a term belongs"):
        parse_sparql(text)


def test_words_that_only_look_like_tokens_are_terms():
    from cbor_ld_spark.operators.sparql import parse_sparql

    s = parse_sparql('SELECT * WHERE { ?s a "FILTER" . '
                     '<filter> <urn:p> ?bind . ?s <urn:q> x.y }')
    assert s["patterns"] == [
        ("?s", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         "FILTER"), ("filter", "urn:p", "?bind"), ("?s", "urn:q", "x.y")]


def test_null_ends_a_path_under_every_strategy(spark):
    """Over ``(a, p, NULL)`` a null may end a path but never continues
    one, not even through a zero-length step: the closure, frontier
    (src- and dst-bound) and meet-in-the-middle (both-bound) tiers give
    one answer."""
    from cbor_ld_spark.operators.algebra import Alt, Group
    from cbor_ld_spark.operators.bgp import match_path

    t = _triples(spark, [("a", "p", None), ("a", "q", "b"),
                         ("b", "p", None)])
    shapes = [
        [("p", "one"), ("q", "opt")],
        [("p", "one"), ("q", "star")],
        [("p", "opt"), ("q", "opt")],
        [("p", "one"), Group((("q", "opt"),))],
        [Group((("p", "one"), ("q", "opt")), "plus")],
        [("q", "opt"), Alt((Group((("p", "one"),)), Group((("q", "opt"),))))],
        [("p", "opt")],
    ]
    for steps in shapes:
        full = {tuple(r) for r in match_path(t, steps).collect()}
        for src, dst in (("a", None), (None, "b"), ("a", "b"), ("b", "b")):
            got = {tuple(r) for r in match_path(
                t, steps, src=src, dst=dst).collect()}
            want = {p for p in full if (src is None or p[0] == src)
                    and (dst is None or p[1] == dst)}
            assert got == want, (steps, src, dst)
    got = {tuple(r) for r in match_path(
        t, [("p", "one"), ("q", "opt")], src="a").collect()}
    assert got == set()
    got = {tuple(r) for r in match_path(t, [("p", "opt")],
                                        src="a").collect()}
    assert got == {("a", "a"), ("a", None)}
