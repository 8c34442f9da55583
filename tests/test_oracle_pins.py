"""The driver contract's outputs, pinned: the registry's query names in
order and the sha256 of every ``oracle_sql()`` text at sf0.01.

A refactor of ``__spark_entry__.py`` must keep both byte-identical.
The fixture holds one ``[name, sha256]`` record per query in registry
order.  Regenerate it only for an intended change of a query or an
oracle (recipe in .claude/skills/verify/SKILL.md)."""

import hashlib
import json
import os

import pytest

SF_DIR = "/root/testdata/sf0.01"
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "fixtures", "oracle_pins_sf0.01.json")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.01 absent")
def test_queries_and_oracle_texts_pinned(monkeypatch):
    import __spark_entry__ as E

    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF", raising=False)
    with open(PINS) as f:
        pins = json.load(f)
    assert list(E.queries()) == [name for name, _sha in pins]
    digests = {name: hashlib.sha256(text.encode()).hexdigest()
               for name, text in E.oracle_sql().items()}
    assert digests == dict(pins)
