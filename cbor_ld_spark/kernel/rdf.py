"""The RDF view of a JSON-LD document: what the context walk in
kernel.transform needs to emit triples, apart from the walk itself -- the
RDF/XSD vocabulary, literal forms (a pragmatic subset of W3C "Deserialize
JSON-LD to RDF"), the sink holding the triple columns and the
per-document blank-node canonicalization."""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

from .canonical import canonical_json
from .codecs import is_absolute_iri
from .context import ActiveContext, TermDefinition, expand_iri

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
RDF_JSON = "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON"

DEFAULT_GRAPH = ""


def canonical_double(v: float) -> str:
    """RDF canonical xsd:double lexical form (e.g. 2.1E1).

    Derived textually from ``repr`` (already the shortest round-trip
    decimal): log10 arithmetic is off by one near powers of 10
    (1e23 -> '10.0E22') and a %.15g mantissa collapses doubles that
    differ in the 16th-17th significant digit.
    """
    if v != v:
        return "NaN"
    if v in (math.inf, -math.inf):
        return "INF" if v > 0 else "-INF"
    if v == 0:
        return "-0.0E0" if math.copysign(1.0, v) < 0 else "0.0E0"
    sign, digits, exp = Decimal(repr(v)).as_tuple()  # exact, no context
    d = "".join(map(str, digits))
    return (f"{'-' if sign else ''}{d[0]}.{d[1:].rstrip('0') or '0'}"
            f"E{exp + len(d) - 1}")


def _native(v) -> tuple[str, str] | None:
    """(lexical form, datatype) of a JSON boolean or number."""
    if isinstance(v, bool):
        return ("true" if v else "false"), XSD_BOOLEAN
    if isinstance(v, int):
        return str(v), XSD_INTEGER
    if isinstance(v, float):
        return canonical_double(v), XSD_DOUBLE
    return None


def vocab_iri(active: ActiveContext, value: str) -> str | None:
    """``value`` expanded as a vocabulary term, if that names an IRI node."""
    iri = expand_iri(active, value, vocab=True)
    return iri if iri and not iri.startswith("_:") and is_absolute_iri(iri) \
        else None


class TripleSink:
    """One document's triples as seven parallel columns.  Blank nodes are
    ``{prefix}b{n}`` in walk order: the kernel's ``_:{doc_sha[:16]}_`` makes
    them corpus-unique.  ``graph`` is the graph the walk is in; ``error``
    the first error of an expansion that defers them."""

    __slots__ = ("columns", "prefix", "graph", "error", "_next", "_append")

    def __init__(self, prefix: str = "_:"):
        self.columns: tuple[list, ...] = ([], [], [], [], [], [], [])
        self._append = tuple(c.append for c in self.columns)
        self.prefix = prefix
        self.graph = DEFAULT_GRAPH
        self.error: Exception | None = None
        self._next = 0

    def emit(self, subj: str, pred: str, obj: str, is_iri: bool,
             datatype: str | None = None, lang: str | None = None) -> None:
        s, p, o, i, d, l, g = self._append
        s(subj)
        p(pred)
        o(obj)
        i(is_iri)
        d(datatype)
        l(lang)
        g(self.graph)

    def bnode(self) -> str:
        label = f"{self.prefix}b{self._next}"
        self._next += 1
        return label

    def node_id(self, active: ActiveContext, value: str) -> str | None:
        """``value`` as a node id, if it names one; user blank ids move to
        ``u_`` so they never collide with minted ones (as W3C toRDF does)."""
        iri = expand_iri(active, value, document_relative=True)
        if iri and iri.startswith("_:"):
            return f"{self.prefix}u_{iri[2:]}"
        return iri if iri and is_absolute_iri(iri) else None

    def open_node(self, active: ActiveContext, node_id,
                  types: tuple[str, ...]) -> str:
        """A node's subject (``node_id``, the value of its first ``@id``
        entry, else a fresh blank node) and its ``rdf:type`` triples, in
        sorted type order."""
        subject = None
        if isinstance(node_id, str):
            # node_id(), inlined: this is the walk's deepest frame
            iri = expand_iri(active, node_id, document_relative=True)
            if iri and iri.startswith("_:"):
                subject = f"{self.prefix}u_{iri[2:]}"
            elif iri and is_absolute_iri(iri):
                subject = iri
        if subject is None:
            subject = self.bnode()
        for ty in types:
            iri = vocab_iri(active, ty)
            if iri:
                self.emit(subject, RDF_TYPE, iri, True)
        return subject

    def literal(self, active: ActiveContext, d: TermDefinition, subject: str,
                pred: str, v) -> None:
        """The triple of a value that is not a node: a ``@json`` value or
        a scalar, typed by the term's coercion."""
        type_ = d.type_
        native = _native(v)
        if type_ == "@json":
            self.emit(subject, pred, canonical_json(v), False, RDF_JSON)
        elif native is not None:
            self.emit(subject, pred, native[0], False, native[1])
        elif v is None:
            pass
        elif type_ == "@id":
            iri = self.node_id(active, v)
            if iri:
                self.emit(subject, pred, iri, True)
        elif type_ == "@vocab":
            # a term that does not expand stays a plain literal
            iri = vocab_iri(active, v)
            self.emit(subject, pred, iri or v, bool(iri),
                      None if iri else XSD_STRING)
        elif type_ is not None and type_ != "@none":
            self.emit(subject, pred, v, False, type_)
        else:
            lang = d.language if d.has_language else None
            self.emit(subject, pred, v, False,
                      None if lang else XSD_STRING, lang)

    def value_object(self, active: ActiveContext, subject: str, pred: str,
                     v: dict, value_key: str) -> None:
        raw = v[value_key]
        type_ = lang = None
        aliases = active.aliases
        for k, val in v.items():
            kw = aliases.get(k, k)
            if kw == "@type" and isinstance(val, str):
                type_ = expand_iri(active, val, vocab=True)
            elif kw == "@language" and isinstance(val, str):
                lang = val
        native = _native(raw)
        if native is not None:
            self.emit(subject, pred, native[0], False, type_ or native[1])
        elif isinstance(raw, str):
            self.emit(subject, pred, raw, False,
                      type_ or (None if lang else XSD_STRING), lang)


# --- URDNA2015-style deterministic blank-node canonicalization ---------------
#
# Blank node labels minted by the walk are document-scoped
# (``_:{doc_sha[:16]}_bN``).  Canonicalization rewrites them to labels that
# are a pure function of the blank node's *graph structure*:
#
#     canon id = _:g{structure_hash}#c{rank}
#
# where ``structure_hash`` is the hash of the document's bnode cluster after
# colour refinement and ``rank`` is the refined colour order.  Two
# isomorphic documents therefore produce **identical** canonical node ids --
# cross-document blank-node deduplication falls out of labeling, with no
# global coordination.
#
# Algorithm per document (simplified URDNA2015 / colour refinement, adequate
# for credential graphs which lack automorphic bnode orbits):
#
# 1. initial colour = hash of the bnode's ground (non-bnode) edge signature,
# 2. iterate colour' = hash(own colour + sorted multiset of (direction, pred,
#    neighbour colour)) until stable,
# 3. rank by final colour (ties by full signature), hash the relabeled triple
#    set for the cluster id.
#
# Blank nodes never cross documents, so the kernel computes each document's
# map at the end of its walk (``functions.udfs._process_one``, on request).

# colour refinement is O(bnodes * edges) per doc; beyond this a document
# is pathological and keeps doc-scoped labels (still globally unique)
MAX_DOC_TRIPLES = 200_000


def _canonical_labels_for_component(
    triples: list[tuple[str, str, str, bool]],
) -> dict[str, str]:
    """triples: (subj, pred, obj, obj_is_iri) of one bnode cluster/doc.

    Returns bnode -> local canonical label ``_:c{rank}`` (structure hash
    is applied by the caller).
    """
    bnodes = {t[0] for t in triples if t[0].startswith("_:")}
    bnodes |= {t[2] for t in triples if t[3] and t[2].startswith("_:")}
    if not bnodes:
        return {}

    def h(s: str) -> str:
        return hashlib.sha256(s.encode("utf-8")).hexdigest()

    out_edges: dict[str, list[tuple[str, str, bool]]] = {b: [] for b in bnodes}
    in_edges: dict[str, list[tuple[str, str, bool]]] = {b: [] for b in bnodes}
    for s, p, o, is_iri in triples:
        s_b, o_b = s in bnodes, (is_iri and o in bnodes)
        if s_b:
            out_edges[s].append((p, o if not o_b else "*", o_b))
        if o_b:
            in_edges[o].append((p, s if not s_b else "*", s_b))

    colour = {
        b: h("init|" + "|".join(sorted(
            [f"o:{p}:{o}:{int(ob)}" for p, o, ob in out_edges[b]] +
            [f"i:{p}:{s}:{int(sb)}" for p, s, sb in in_edges[b]]
        )))
        for b in bnodes
    }

    nbr_out: dict[str, list[tuple[str, str]]] = {b: [] for b in bnodes}
    nbr_in: dict[str, list[tuple[str, str]]] = {b: [] for b in bnodes}
    for s, p, o, is_iri in triples:
        if s in bnodes and is_iri and o in bnodes:
            nbr_out[s].append((p, o))
            nbr_in[o].append((p, s))

    for _ in range(len(bnodes)):
        new = {}
        for b in bnodes:
            sig = [colour[b]]
            sig += sorted(f"o:{p}:{colour[o]}" for p, o in nbr_out[b])
            sig += sorted(f"i:{p}:{colour[s]}" for p, s in nbr_in[b])
            new[b] = h("|".join(sig))
        if new == colour:
            break
        colour = new
        if len(set(colour.values())) == len(bnodes):
            break

    order = sorted(bnodes, key=lambda b: (colour[b], b))
    return {b: f"_:c{i}" for i, b in enumerate(order)}


def _canonicalize_doc(triples: list[tuple[str, str, str, bool, str]]):
    """One document's triples (subj,pred,obj,is_iri,graph) -> node mapping.

    Returns {bnode -> canonical id} with the structure hash baked in.
    """
    flat = [(s, p, o, i) for s, p, o, i, _g in triples]
    # graph names participate as first-class nodes
    flat += [(g, "urn:x-cbor-ld:graph", s, True)
             for s, _p, _o, _i, g in triples if g.startswith("_:")]
    local = _canonical_labels_for_component(flat)
    if not local:
        return {}
    relabeled = sorted(
        (local.get(s, s), p, local.get(o, o) if i else o, str(i),
         local.get(g, g))
        for s, p, o, i, g in triples
    )
    structure = hashlib.sha256(
        "\n".join("\x1f".join(t) for t in relabeled).encode()).hexdigest()[:16]
    return {b: f"_:g{structure}#{c[2:]}" for b, c in local.items()}
