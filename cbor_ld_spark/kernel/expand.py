"""JSON-LD expansion -> RDF triples, the KG pipeline's graph view.

No traversal lives here: the kernel's encoder emits the triples from its
own context walk (``transform.encode_with_triples``), and
:func:`expand_to_triples` runs that walk in its lenient mode, which drops
undefined terms instead of rejecting the document.  Entries go in sorted
term order and blank nodes are ``_:b{n}`` from a per-document counter.
"""

from __future__ import annotations

from dataclasses import dataclass

from .errors import CborLdError
from .loader import StaticLoader
from .rdf import (  # noqa: F401 — the RDF vocabulary, importable from here
    DEFAULT_GRAPH, RDF_FIRST, RDF_JSON, RDF_NIL, RDF_REST, RDF_TYPE, XSD,
    XSD_BOOLEAN, XSD_DOUBLE, XSD_INTEGER, XSD_STRING, TripleSink,
    canonical_double as _canonical_double)
from .transform import expand_into


@dataclass(frozen=True)
class Triple:
    subj: str
    pred: str
    obj: str
    obj_is_iri: bool
    obj_datatype: str | None
    obj_lang: str | None
    graph: str

    def key(self) -> tuple:
        return (self.subj, self.pred, self.obj, self.obj_is_iri,
                self.obj_datatype or "", self.obj_lang or "", self.graph)


def expand_to_triples(doc: dict, loader: StaticLoader | None = None) -> list[Triple]:
    """Expand a parsed JSON-LD document to a deterministic triple list."""
    if not isinstance(doc, dict):
        raise CborLdError("ExpectedObject", "expansion root must be an object")
    sink = TripleSink()
    expand_into(sink, doc, loader)
    return [Triple(*row) for row in zip(*sink.columns)]
