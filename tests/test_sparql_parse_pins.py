"""The SPARQL front end's parses, pinned: for every query text in the
fixture, the sha256 of ``repr(parse_sparql(text))``, or ``"ValueError"``
when the parser rejects the text.

The texts are the SPARQL query texts of ``tests/test_bgp.py`` (its
string constants that open with a query keyword and hold a group) and
of ``__spark_entry__.py`` (its module-level query strings), then seeded
token-level mutations of them: a token dropped, duplicated or swapped
with its neighbour, or one of ``INSERTS`` put in, once or twice per
text, a quarter of them under a ``PREFIX ex:`` declaration.  A change
to the tokenizer, the prefix expansion or the group parser that moves
any parse shows here.  No Spark.

Regenerate the fixture only for an intended change of the grammar (say
in CHANGES.md which records moved and why): write the output of
``python3 tests/test_sparql_parse_pins.py`` to
``tests/fixtures/sparql_parse_pins.json``."""

import ast
import hashlib
import json
import os
import random
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINS = os.path.join(ROOT, "tests", "fixtures", "sparql_parse_pins.json")
INSERTS = (".", "{", "}", "(", ")", "<", ">", '"', "'", "UNION",
           "OPTIONAL", "FILTER", "VALUES", "BIND", "GRAPH", "a", "ex:p")
_QUERY = re.compile(r"\s*(PREFIX|SELECT|ASK|CONSTRUCT|DESCRIBE)\b", re.I)


def base_texts() -> list[str]:
    """The query texts the corpus mutates, in a stable order."""
    with open(os.path.join(ROOT, "tests", "test_bgp.py")) as f:
        tree = ast.parse(f.read())
    texts = [n.value for n in ast.walk(tree)
             if isinstance(n, ast.Constant) and isinstance(n.value, str)
             and _QUERY.match(n.value) and "{" in n.value]
    sys.path.insert(0, ROOT)
    import __spark_entry__ as E

    texts += [v for _k, v in sorted(vars(E).items())
              if isinstance(v, str) and _QUERY.match(v) and "{" in v]
    return list(dict.fromkeys(texts))


def mutations(texts: list[str], n: int, seed: int) -> list[str]:
    """``n`` seeded token-level mutations of ``texts``."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        toks = rng.choice(texts).split()
        for _op in range(rng.randint(1, 2)):
            op = rng.choice(("drop", "dup", "swap", "insert"))
            i = rng.randrange(len(toks))
            if op == "drop":
                del toks[i]
            elif op == "dup":
                toks.insert(i, toks[i])
            elif op == "swap" and i + 1 < len(toks):
                toks[i], toks[i + 1] = toks[i + 1], toks[i]
            elif op == "insert":
                toks.insert(i, rng.choice(INSERTS))
        if rng.random() < 0.25:
            toks = ["PREFIX", "ex:", "<urn:ex:>"] + toks
        out.append(" ".join(toks))
    return out


def corpus() -> list[str]:
    texts = base_texts()
    return texts + mutations(texts, 2000, 14)


def digest(text: str) -> str:
    from cbor_ld_spark.operators.sparql import parse_sparql

    try:
        spec = parse_sparql(text)
    except ValueError:
        return "ValueError"
    return hashlib.sha256(repr(spec).encode()).hexdigest()


def test_parses_pinned():
    with open(PINS) as f:
        pins = json.load(f)
    assert len(pins) >= 2100
    moved = [text for text, sha in pins if digest(text) != sha]
    assert not moved, (len(moved), moved[:3])


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    print("[\n" + ",\n".join(json.dumps([t, digest(t)]) for t in corpus())
          + "\n]")
