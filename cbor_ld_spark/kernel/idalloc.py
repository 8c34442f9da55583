"""Deterministic per-document term-id allocation, as interned states.

Semantics mirror the reference's ``IdAllocator``/``IdMap`` pair
(reference: src/id/alloc.rs:3-40, src/id/map.rs:4-57):

* a static parent layer holds the fixed keyword map,
* per-document allocations start at ``FIRST_CUSTOM_TERM_ID`` (100) and
  step by 2 — even id = singular key, odd id = ``id+1`` = plural
  (array-valued) key,
* allocation is idempotent per term name.

Because allocation order is a pure function of the document's context
chain (contexts processed in document order, terms allocated in sorted
order — reference: src/transform.rs:305-317), the encoder and decoder
independently re-derive identical tables, which is exactly what makes the
kernel embarrassingly parallel across a corpus: no shared state.

The same purity lets every document share its tables.  An
:class:`AllocState` is the immutable table after one sequence of applied
contexts; the states form a trie under :func:`root` whose edges are keyed
on the processed ``ActiveContext`` (an object already interned by the
context memo, so the edge lookup is an identity hash).  Applying a
context whose fingerprint the sequence already holds is the identity
edge.  A document walk only moves its state pointer along edges: after
the first document of each context chain it copies and allocates
nothing.  A state is built completely before it is published on its
parent's edge, so a concurrent walker sees either no edge or a whole
state.  The trie holds at most ``MAX_EDGES`` edges; past that the next
:func:`root` call starts a fresh trie (walks still holding old states
finish on them unchanged).
"""

from __future__ import annotations

from .keywords import FIRST_CUSTOM_TERM_ID, KEYWORDS, KEYWORDS_BY_ID

MAX_EDGES = 4096


class AllocState:
    __slots__ = ("term_to_id", "id_to_term", "next_id", "applied", "_edges")

    def __init__(self) -> None:
        self.term_to_id: dict[str, int] = {}
        self.id_to_term: dict[int, str] = {}
        self.next_id = FIRST_CUSTOM_TERM_ID
        # fingerprints of the contexts whose terms are allocated here
        self.applied: frozenset = frozenset()
        self._edges: dict = {}

    def encode_term(self, term: str, plural: bool) -> int | None:
        tid = self.term_to_id.get(term)
        if tid is None:
            tid = KEYWORDS.get(term)
        if tid is None:
            return None
        return tid + 1 if plural else tid

    def decode_term(self, tid: int) -> tuple[str, bool] | None:
        singular = tid if tid % 2 == 0 else tid - 1
        term = self.id_to_term.get(singular)
        if term is None:
            term = KEYWORDS_BY_ID.get(singular)
        if term is None:
            return None
        return term, singular != tid

    def after(self, active) -> "AllocState":
        """The state once ``active``'s terms are allocated."""
        global _count
        nxt = self._edges.get(active)
        if nxt is None:
            nxt = self._derive(active)
            self._edges[active] = nxt
            _count += 1
        return nxt

    def _derive(self, active) -> "AllocState":
        fp = active.fingerprint
        if fp in self.applied:
            return self
        nxt = AllocState.__new__(AllocState)
        term_to_id = nxt.term_to_id = dict(self.term_to_id)
        id_to_term = nxt.id_to_term = dict(self.id_to_term)
        next_id = self.next_id
        for term in active.alloc_terms:
            if term not in term_to_id and term not in KEYWORDS:
                term_to_id[term] = next_id
                id_to_term[next_id] = term
                next_id += 2
        nxt.next_id = next_id
        nxt.applied = self.applied | {fp}
        nxt._edges = {}
        return nxt


_root = AllocState()
_count = 0


def root() -> AllocState:
    """The empty state every document starts from."""
    global _root, _count
    if _count >= MAX_EDGES:
        _root, _count = AllocState(), 0
    return _root
