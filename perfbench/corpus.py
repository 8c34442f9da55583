"""Seeded repos-shaped corpora for the benchmark workloads.

A corpus is a list of rows ``(repo, path, commit, lang, content)`` plus,
kept on the benchmark side only, what each row is expected to produce.
The program under test receives nothing but the parquet file written by
:func:`write_parquet`.

Row kinds:

* ``valid``      a seeded variant of one of the five encodable fixture
                 classes (fresh ids, dates and values); must come back
                 ``ok`` and ``roundtrip_ok``.
* ``fixture``    a verbatim fixture sample with golden triples under
                 ``fixtures/triples``; its triples must match them exactly.
* ``bad``        a known-bad JSON-LD document; must reach the quarantine
                 column with the expected ``error_kind``.
* ``distractor`` a non-JSON-LD source file; the sniff filter drops it
                 before the kernel.

Same seed, same arguments: byte-identical rows.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass

from cbor_ld_spark.kernel.loader import read_fixture_text

VALID_CLASSES = ("note", "prc", "truage", "cit", "vcb")
GOLDEN_FIXTURES = ("note", "prc", "truage", "cit")
# expected quarantine kind per known-bad family
BAD_KINDS = {
    "truncated": "JSONDecodeError",
    "inline_context": "InvalidContextEntry",
    "unmounted_context": "LoadingDocumentFailed",
}
DISTRACTOR_LANGS = ("rust", "python", "markdown")

# per-mille of rows per kind; the rest are valid documents
BAD_PER_MILLE = 15
DISTRACTOR_PER_MILLE = 30

_WORDS = ("alpha", "beta", "gamma", "delta", "ledger", "issuer", "holder",
          "proof", "status", "bridge", "harbor", "meadow", "signal", "quartz",
          "cedar", "orbit", "lumen", "prairie", "falcon", "summit")
_GIVEN = ("JOHN", "MARY", "ANA", "WEI", "OLU", "PRIYA", "LARS", "SOFIA")
_FAMILY = ("SMITH", "GARCIA", "CHEN", "OKAFOR", "PATEL", "NILSSON", "ROSSI")
_COUNTRIES = ("Bahamas", "Canada", "Kenya", "Chile", "Norway", "Vietnam")


@dataclass(frozen=True)
class Row:
    repo: str
    path: str
    commit: str
    lang: str
    content: str
    kind: str          # valid | fixture | bad | distractor
    label: str         # class, fixture name, bad family or distractor lang


def _templates() -> dict[str, dict]:
    return {c: json.loads(read_fixture_text("samples", f"{c}.jsonld"))
            for c in (*VALID_CLASSES, "uncompressible", "didKey")}


def _uuid(rng: random.Random) -> str:
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _date(rng: random.Random, lo: int = 2015, hi: int = 2030) -> str:
    return (f"{rng.randint(lo, hi):04d}-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:"
            f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _vary(cls: str, doc: dict, rng: random.Random) -> dict:
    """Seeded ids, dates and values on a deep copy of a fixture doc."""
    d = json.loads(json.dumps(doc))
    if cls == "note":
        d["summary"] = f"Note {rng.getrandbits(40):x}"
        d["content"] = _words(rng, rng.randint(4, 24))
    elif cls == "prc":
        num = str(rng.randint(10**7, 10**8 - 1))
        d["id"] = f"https://issuer.oidp.uscis.gov/credentials/{num}"
        d["identifier"] = num
        d["issuanceDate"] = _date(rng, 2015, 2022)
        d["expirationDate"] = _date(rng, 2025, 2035)
        s = d["credentialSubject"]
        s["id"] = f"did:example:{rng.getrandbits(60):015x}"
        s["givenName"] = rng.choice(_GIVEN)
        s["familyName"] = rng.choice(_FAMILY)
        s["birthCountry"] = rng.choice(_COUNTRIES)
        s["lprNumber"] = (f"{rng.randint(100, 999)}-{rng.randint(100, 999)}-"
                          f"{rng.randint(100, 999)}")
        d["proof"]["created"] = _date(rng, 2019, 2024)
    elif cls in ("truage", "cit"):
        vc = d["verifiableCredential"]
        vc["id"] = f"urn:uuid:{_uuid(rng)}"
        vc["issuanceDate"] = _date(rng, 2019, 2024)
        vc["expirationDate"] = _date(rng, 2025, 2030)
        vc["proof"]["created"] = _date(rng, 2019, 2024)
        if cls == "truage":
            vc["credentialSubject"]["overAge"] = rng.choice((18, 21, 25, 65))
    elif cls == "vcb":
        d["credentialStatus"]["terseStatusListIndex"] = rng.randint(0, 10**7)
    return d


def _dump(doc: dict, rng: random.Random) -> str:
    return json.dumps(doc, indent=rng.choice((None, 2)))


def _bad(family: str, tpl: dict[str, dict], rng: random.Random) -> str:
    if family == "truncated":
        text = _dump(_vary("prc", tpl["prc"], rng), rng)
        cut = text.index("@context") + 12
        return text[:rng.randint(cut, len(text) - 2)]
    if family == "inline_context":
        d = json.loads(json.dumps(tpl["uncompressible"]))
        d["uncompressible"] = _words(rng, rng.randint(3, 12))
        return _dump(d, rng)
    d = json.loads(json.dumps(tpl["didKey"]))
    d["id"] = f"did:key:z6Mk{rng.getrandbits(128):032x}"
    return _dump(d, rng)


def _distractor(lang: str, rng: random.Random) -> str:
    tag = f"{rng.getrandbits(64):016x}"
    if lang == "rust":
        return f'fn main() {{ println!("{tag}"); }} // not json-ld\n'
    if lang == "python":
        return f"def main():\n    return 0x{tag}  # not json-ld\n"
    return f"# README {tag}\n\n{_words(rng, 12)}\n"


def _distinct_contents(rng: random.Random, n: int) -> list[tuple[str, str, str, str]]:
    """``n`` distinct (kind, label, lang, content) tuples in a fixed mix:
    the verbatim golden fixtures once each, a per-mille share of bad and
    distractor rows, the rest valid docs cycling the five classes."""
    tpl = _templates()
    n_bad = max(len(BAD_KINDS), n * BAD_PER_MILLE // 1000)
    n_dis = max(len(DISTRACTOR_LANGS), n * DISTRACTOR_PER_MILLE // 1000)
    out = [("fixture", name, "json", read_fixture_text("samples", f"{name}.jsonld"))
           for name in GOLDEN_FIXTURES]
    out += [("bad", fam, "json", None) for fam in
            (list(BAD_KINDS)[i % len(BAD_KINDS)] for i in range(n_bad))]
    out += [("distractor", lang, lang, None) for lang in
            (DISTRACTOR_LANGS[i % 3] for i in range(n_dis))]
    n_valid = n - len(out)
    if n_valid < len(VALID_CLASSES):
        raise ValueError(f"corpus of {n} distinct docs is too small")
    out += [("valid", VALID_CLASSES[i % len(VALID_CLASSES)], "json", None)
            for i in range(n_valid)]
    seen = {c for *_, c in out if c is not None}
    filled = []
    for kind, label, lang, content in out:
        while content is None or (kind != "fixture" and content in seen):
            if kind == "valid":
                content = _dump(_vary(label, tpl[label], rng), rng)
            elif kind == "bad":
                content = _bad(label, tpl, rng)
            else:
                content = _distractor(lang, rng)
        seen.add(content)
        filled.append((kind, label, lang, content))
    rng.shuffle(filled)
    return filled


def generate(seed: int, n_rows: int, distinct_share: float = 1.0) -> list[Row]:
    """``n_rows`` rows of which ``round(n_rows * distinct_share)`` carry
    distinct contents; every other row is a byte-identical copy of one of
    them (vendored dependencies, forks) under its own repo and path."""
    rng = random.Random(seed)
    n_distinct = max(1, round(n_rows * distinct_share))
    pool = _distinct_contents(rng, n_distinct)
    picks = list(range(n_distinct)) + [rng.randrange(n_distinct)
                                       for _ in range(n_rows - n_distinct)]
    rng.shuffle(picks)
    rows = []
    for i, p in enumerate(picks):
        kind, label, lang, content = pool[p]
        # a skewed repo mix: one mega-repo holds about a third of rows
        repo = ("org0/mega" if rng.random() < 0.33
                else f"org{rng.randrange(7)}/repo{rng.randrange(13)}")
        ext = {"rust": "rs", "python": "py", "markdown": "md"}.get(lang, "jsonld")
        path = f"src/{i}/{label}.{ext}"
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        rows.append(Row(repo, path, commit, lang, content, kind, label))
    return rows


def write_parquet(rows: list[Row], path: str) -> None:
    """The program's only input: the five repos-table columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = ("repo", "path", "commit", "lang", "content")
    table = pa.table({c: pa.array([getattr(r, c) for r in rows], pa.string())
                      for c in cols})
    pq.write_table(table, path)
