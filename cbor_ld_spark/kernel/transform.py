"""The CBOR-LD node transform: JSON-LD <-> CBOR-LD, both directions.

This is the row-level kernel of the distributed pipeline.  The encode and
decode directions are the *same* recursive algorithm instantiated twice
(reference: src/transform.rs:322-486, src/encode/mod.rs:126-259,
src/decode/mod.rs:129-272):

1. process the embedded ``@context`` (fold arrays left-to-right, emit the
   context-table id or verbatim URL, allocate term ids in sorted order),
2. collect the node's types (via ``@type``-alias detection), sort them,
   apply each type-scoped context with ``propagate=false``,
3. list entries as ``(term, plural, def, out_key, value)``, **sort by term
   name**, dispatch each: ``@id`` -> IRI codec, ``@type`` -> vocab terms,
   typed string leaf -> type table / type codec, otherwise recurse with
   the property-scoped context,
4. sort output entries by output key (integers ascending on encode,
   strings lexicographic on decode).

Everything is per-document and deterministic — both sides re-derive the
identical term-id table from the context chain, so each corpus row is
independent (the invariant that lets Spark run this in Arrow-batched
Python stages with zero coordination).

Because of that determinism, steps 2-3 (the node's *header*) depend only
on the allocation state, the active context, the node's keys (on encode
also which values are lists) and its ``@type`` values.  Each walk
(encode, decode, the lenient expansion) memoizes them as node plans:
``_plans`` maps ``(state, active context, *keys[, *list flags])`` to a
``_Plan``, whose ``headers`` map the flattened ``@type`` values to a
``_Header``.  States are the interned
trie of :mod:`.idalloc` and contexts are interned by the context memo,
so both hash by identity; keys must be exact ``int`` on decode and type
values exact ``str``/``int``, since ``True == 1 == 1.0``.  Loaders need
no key of their own: a context processed through another loader is
another object.  A plan or header is built completely and then published
with one dict assignment, so a concurrent walk sees a miss or a whole
entry, and a header whose building raised is never published.  Bounds:
``_MAX_PLANS`` plans per walk (the memo is cleared when full; plans
of a restarted state trie never hit again and wait for that) and
``_MAX_HEADERS`` headers per plan.
Corpora repeat node shapes (a 2k-document benchmark corpus has about 15
among 6k nodes), so after warm-up nearly every node is a hit; a miss
costs the header work it always did, plus one publish.

The same walk yields the document's RDF view: an encoder given a
:class:`~.rdf.TripleSink` emits each node's triples while it holds the
node's active context (one walk per document), and the lenient
``_Expander`` instance expands what the encoder would reject.
"""

from __future__ import annotations

import json
from operator import itemgetter
from typing import Any

from . import codecs, idalloc
from .cbor import CborMap, CborTag, dumps, loads
from .context import (EMPTY_CONTEXT, MAP_CONTAINERS, ActiveContext,
                      TermDefinition, process_context)
from .errors import (
    CborLdError,
    DecodeError,
    EncodeError,
    duplicate_key,
    expected_object,
    invalid_context_entry,
    missing_id_for,
    not_cbor_ld,
    undefined_term,
)
from .loader import StaticLoader
from .rdf import RDF_FIRST, RDF_NIL, RDF_REST, TripleSink
from .tables import (CBOR_LD_TAG_HIGH, Tables, registry_tag,
                     tables_for_registry, varint_decode)


def _force_as_array(value: Any, plural: bool) -> list:
    if plural and isinstance(value, list):
        return value
    return [value]


_MISSING = object()
_first = itemgetter(0)
_second = itemgetter(1)
_is_list = list.__instancecheck__


class _Header:
    """A node's walk decisions that depend only on the plan key and the
    node's ``@type`` values: its sorted types, the active context and
    allocation state after the type-scoped contexts, the index of its
    first ``@id`` entry, and its entries in term order as ``(index, term,
    plural, definition, out key, keyword, predicate)``."""

    __slots__ = ("types", "active", "state", "id_index", "entries",
                 "scoped")

    def __init__(self, types, active, state, id_index, entries):
        self.types = types
        self.active = active
        self.state = state
        self.id_index = id_index
        self.entries = entries
        # entry index -> its property-scoped context, once processed
        self.scoped: dict[int, ActiveContext] = {}


class _Plan:
    """Headers of one node shape: ``type_idx`` lists the ``(index,
    plural)`` of its ``@type`` entries, ``headers`` maps their values to
    a :class:`_Header`."""

    __slots__ = ("type_idx", "headers")

    def __init__(self, type_idx, headers):
        self.type_idx = type_idx
        self.headers = headers


# bounds of the plan memos: plans per walk (cleared when full) and
# headers per plan (no more are added when full)
_MAX_PLANS = 4096
_MAX_HEADERS = 64


def _type_key(vals: tuple, type_idx: tuple):
    """The ``@type`` values, flattened, as a header key (a header depends
    only on their sorted sequence), or None when they are not all exact
    ``str``/``int``: ``True == 1 == 1.0`` must not share a header."""
    key = []
    for i, plural in type_idx:
        v = vals[i]
        if type(v) is list:
            if not plural:
                return None
            for x in v:
                t = type(x)
                if t is not str and t is not int:
                    return None
            key += v
        else:
            t = type(v)
            if t is not str and t is not int:
                return None
            key.append(v)
    return tuple(key)


class _TransformerBase:
    """Shared state + context machinery for both directions."""

    error_cls: type[CborLdError] = CborLdError
    # strict walks output a document and reject undefined terms; the
    # lenient one (_Expander) only emits triples, into ``sink``
    strict = True
    sink: TripleSink | None = None
    # each walk's node plans, (plan key) -> _Plan, set per subclass
    _plans: dict

    def __init__(self, loader: StaticLoader, tables: Tables):
        self.loader = loader
        self.tables = tables
        self.state = idalloc.root()
        self._expander: _Expander | None = None

    # -- context handling ----------------------------------------------------

    def _process_context_value(self, active: ActiveContext, context_value,
                               propagate: bool,
                               base_url: str | None = None,
                               override_protected: bool = False) -> ActiveContext:
        """Process one context (URL or inline syntax) + allocate term ids."""
        result = process_context(active, context_value, self.loader,
                                 base_url=base_url, propagate=propagate,
                                 override_protected=override_protected)
        self.state = self.state.after(result)
        return result

    def process_global_context(self, active: ActiveContext, context_value,
                               propagate: bool):
        """Returns (output value for the @context entry, new active context)."""
        plural = self._is_input_array(context_value)
        out_entries = []
        for entry in context_value if plural else [context_value]:
            url = self.context_iri_ref(entry)
            out_entries.append(self.context_id(entry, url))
            active = self._process_context_value(active, url, propagate)
        return (out_entries if plural else out_entries[0]), active

    # -- node transform (the shared core) ------------------------------------

    @staticmethod
    def _is_input_array(value) -> bool:
        return isinstance(value, list)

    def transform(self, active: ActiveContext, value):
        obj = self._as_input_object(value)
        if obj is None:
            raise expected_object()
        return self._wrap_object(self.transform_node(active, obj)[0])

    def transform_object(self, active: ActiveContext, value):
        if value is None or isinstance(value, (bool, str)):
            return value
        if isinstance(value, int):
            return self.transform_int(value)
        if isinstance(value, float):
            # text input can't produce these (parse_json_document rejects
            # NaN/Infinity) but dict input and CBOR can; passing them on
            # would break the JSON round-trip invariant the decoder enforces
            if value != value or value in (float("inf"), float("-inf")):
                raise self.error_cls("NonFiniteFloat", repr(value))
            return value
        if isinstance(value, list):
            return [self.transform(active, item) for item in value]
        obj = self._as_input_object(value)
        if obj is None:
            raise self.error_cls("InvalidValue", repr(type(value)))
        return self._wrap_object(self.transform_node(active, obj)[0])

    def transform_node(self, active: ActiveContext, obj):
        """Returns (output entries, node subject if emitting else None)."""
        result = []
        sink = self.sink
        strict = self.strict
        keys, vals, context_value, shape = self._open(obj)

        # 1. Embedded context.
        if context_value is not _MISSING:
            out_key = self.term_key("@context", self._is_input_array(context_value))
            out_value, active = self.process_global_context(
                active, context_value, propagate=True)
            result.append((out_key, out_value))

        # 2.-3. Types, type-scoped contexts, entries in term order: the
        # header of the node's plan.  The lookup stays in this frame with
        # flat keys so that it nests no deeper than the work it replaces:
        # the nesting depth at which RecursionError strikes is unchanged.
        header = None
        if shape is not None:
            plan = self._plans.get((self.state, active) + shape)
            if plan is not None:
                header = plan.headers.get(_type_key(vals, plan.type_idx))
        if header is None:
            header = self._plan(active, keys, vals, shape)
        self.state = header.state
        active = header.active
        if sink is not None:
            i = header.id_index
            subject = sink.open_node(active, None if i is None else vals[i],
                                     header.types)
        else:
            subject = None

        # 4. Dispatch entries.
        for i, term, plural, d, out_key, keyword, pred in header.entries:
            value = vals[i]
            if keyword == "@id":
                result.append((out_key, self.transform_id(value)))
                continue

            if keyword == "@type":
                if plural:
                    if not self._is_input_array(value):
                        raise self.error_cls("InvalidTypeKind", term)
                    out_value = [self.transform_vocab(active, v) for v in value]
                else:
                    out_value = self.transform_vocab(active, value)
                result.append((out_key, out_value))
                continue

            if d is None and strict:
                raise undefined_term(term)

            property_context = active
            if d is not None and d.local_context is not None:
                property_context = header.scoped.get(i)
                if property_context is None:
                    # property-scoped: override protected (spec
                    # expansion §13.9); a result depends only on the
                    # header, so it is kept there once it exists
                    property_context = self._process_context_value(
                        active, d.local_context, propagate=True,
                        base_url=d.base_url, override_protected=True)
                    header.scoped[i] = property_context
                else:
                    self.state = self.state.after(property_context)

            values = value if plural and isinstance(value, list) \
                else [value]
            out_values = []
            if sink is None:
                for v in values:
                    out_v = self.transform_typed_value(active, v, d.type_)
                    if out_v is _MISSING:
                        out_v = self.transform_object(property_context, v)
                    out_values.append(out_v)
            elif pred is None:
                # not one triple per value (keyword aliases, dropped or
                # reversed terms, lists, maps): the lenient walk reads it
                for v in values:
                    out_values.append(self._quiet(active, property_context,
                                                  d, v))
                self._lenient("_structured", active, property_context, d,
                              term, value, values, subject)
            else:
                for v in values:
                    out_values.append(self._value(active, property_context, d,
                                                  v, subject, pred))

            if strict:
                result.append((out_key,
                               out_values if plural else out_values[0]))

        if strict:
            # out keys are all term ids (encode) or all terms (decode),
            # so a plain key gives CBOR-LD's order
            result.sort(key=_first)
        return result, subject

    def _plan(self, active: ActiveContext, keys: tuple, vals: tuple,
              shape) -> _Header:
        """Build a node's header and publish it in the node's plan.

        The plan key is (allocation state, active context, *``shape``):
        the keys, and on encode which values are lists.  The header
        inside the plan is keyed on the ``@type`` values.  Both are built
        completely before they are published, so a concurrent walk sees a
        miss or a whole entry, and a header whose building raised is
        never published."""
        # keyed on the state before the header's type-scoped contexts
        pkey = None if shape is None else (self.state, active) + shape
        type_idx, header = self._build_header(active, keys, vals)
        if pkey is not None:
            plans = self._plans
            tkey = _type_key(vals, type_idx)
            plan = plans.get(pkey)
            if plan is None:
                if len(plans) >= _MAX_PLANS:
                    plans.clear()
                plans[pkey] = _Plan(
                    type_idx, {} if tkey is None else {tkey: header})
            elif tkey is not None and len(plan.headers) < _MAX_HEADERS:
                plan.headers[tkey] = header
        return header

    def _build_header(self, active: ActiveContext, keys: tuple, vals: tuple):
        """Returns (the ``@type`` entries' ``(index, plural)``, header)."""
        # 2. Find + sort types, apply type-scoped contexts.
        types = []
        type_idx = []
        aliases = active.aliases
        for i, key in enumerate(keys):
            value = vals[i]
            kt = self.key_term(key, value)
            if kt is None:
                continue
            term, plural = kt
            if aliases.get(term, term) == "@type":
                type_idx.append((i, plural))
                for ty in _force_as_array(value, plural):
                    ty = self.value_term(active, ty)
                    if ty is not None:
                        types.append(ty)
        types.sort()
        for ty in types:
            d = active.get(ty)
            if d is not None and d.local_context is not None:
                active = self._process_context_value(
                    active, d.local_context, propagate=False,
                    base_url=d.base_url)

        # 3. Sort entries by term name.
        sorted_entries = []
        for i, key in enumerate(keys):
            value = vals[i]
            term, plural = self.required_key_term(key, value)
            if term == "@context":
                continue
            d = active.get(term)
            out_key = self.term_key(term, self._is_input_array(value))
            sorted_entries.append((i, term, plural, d, out_key))
        sorted_entries.sort(key=_second)
        aliases = active.aliases
        predicates = active.predicates
        id_index = next((i for i, key in enumerate(keys)
                         if aliases.get(key, key) == "@id"), None)
        return tuple(type_idx), _Header(
            tuple(types), active, self.state, id_index,
            tuple((*e, aliases.get(e[1], e[1]), predicates.get(e[1]))
                  for e in sorted_entries))

    # -- the RDF view, emitted by the walk that holds the context ------------

    def _value(self, active: ActiveContext, prop_active: ActiveContext,
               d: TermDefinition, v, subject: str, pred: str):
        """Emit the triples of one property value; return its encoding."""
        sink = self.sink
        if d.type_ != "@json":
            if isinstance(v, dict):
                aliases = prop_active.aliases
                vkey = next((k for k in v if aliases.get(k, k) == "@value"),
                            None)
                if vkey is None:
                    # a node: its subject is the object of this property
                    if "@graph" in d.container:
                        # its triples go to a named graph the property names
                        graph, g = sink.graph, sink.bnode()
                        sink.emit(subject, pred, g, True)
                        sink.graph = g
                        entries, _ = self.transform_node(prop_active, v)
                        sink.graph = graph
                    else:
                        entries, child = self.transform_node(prop_active, v)
                        sink.emit(subject, pred, child, True)
                    return self._wrap_object(entries)
                sink.value_object(prop_active, subject, pred, v, vkey)
                return self._quiet(active, prop_active, d, v)
            if isinstance(v, list):
                # a list in a list: items are values (encodable if nodes)
                out = []
                for item in v:
                    if self.strict and not isinstance(item, dict):
                        raise expected_object()
                    out.append(self._value(active, prop_active, d, item,
                                           subject, pred))
                return out
        sink.literal(prop_active, d, subject, pred, v)
        return self._quiet(active, prop_active, d, v)

    def _quiet(self, active: ActiveContext, prop_active: ActiveContext,
               d: TermDefinition, v):
        """Encode a value whose triples, if any, come from elsewhere."""
        sink, self.sink = self.sink, None
        out = self.transform_typed_value(active, v, d.type_)
        if out is _MISSING:
            out = self.transform_object(prop_active, v)
        self.sink = sink
        return out

    def _lenient(self, step: str, *args) -> None:
        """Run a lenient expansion step into this walk's sink.  Its first
        error waits in ``sink.error``: encode and decode errors come first."""
        sink = self.sink
        if sink.error is not None:
            return
        if self._expander is None:
            self._expander = _Expander(self.loader, sink)
        try:
            getattr(self._expander, step)(*args)
        except Exception as e:  # noqa: BLE001 — reported after decode
            sink.error = e

    # -- shared vocab term machinery (reference: src/transform.rs:541-588) ---

    def encode_vocab_term_str(self, active: ActiveContext, value: str):
        tid = self.state.encode_term(value, False)
        if tid is not None:
            return tid
        expanded = value
        if ":" in value:
            prefix, _, suffix = value.partition(":")
            pd = active.get(prefix)
            if pd is not None and pd.prefix:
                if pd.iri is None:
                    raise EncodeError("InvalidTermDefinition", prefix)
                expanded = f"{pd.iri}:{suffix}"
        if codecs.is_absolute_iri(expanded):
            return codecs.encode_iri(expanded)
        return value

    def decode_vocab_term_value(self, active: ActiveContext, value) -> str:
        if isinstance(value, bool):
            raise DecodeError("InvalidValue", repr(value))
        if isinstance(value, int):
            if value < 0:
                raise DecodeError("InvalidValue", str(value))
            decoded = self.state.decode_term(value)
            if decoded is None:
                raise DecodeError("UndefinedCompressedTerm", str(value))
            return decoded[0]
        if isinstance(value, str):
            return value
        return codecs.decode_iri(value)


class CborLdEncoder(_TransformerBase):
    """JSON-LD -> CBOR-LD (reference: src/encode/mod.rs:93-259)."""

    error_cls = EncodeError
    _plans: dict = {}

    # input = parsed JSON (dict/list/scalars)
    @staticmethod
    def _as_input_object(value):
        return value if isinstance(value, dict) else None

    @staticmethod
    def _open(obj: dict):
        """(keys, values, @context value, plan shape) of an object."""
        keys = tuple(obj)
        vals = tuple(obj.values())
        # str keys only reach a published plan (term_key rejects others)
        return (keys, vals, obj.get("@context", _MISSING),
                keys + tuple(map(_is_list, vals)))

    _wrap_object = CborMap

    def context_iri_ref(self, entry) -> str:
        if not isinstance(entry, str):
            raise invalid_context_entry()
        return entry

    def context_id(self, _entry, url: str):
        cid = self.tables.context_to_id.get(url)
        return cid if cid is not None else url

    def term_key(self, term: str, plural: bool) -> int:
        tid = self.state.encode_term(term, plural)
        if tid is None:
            raise missing_id_for(term)
        return tid

    def key_term(self, key: str, value) -> tuple[str, bool]:
        return key, isinstance(value, list)

    required_key_term = key_term

    def value_term(self, active: ActiveContext, value) -> str:
        if not isinstance(value, str):
            raise EncodeError("InvalidVocabTermKind", repr(value))
        return value

    def transform_id(self, value):
        if not isinstance(value, str):
            raise EncodeError("InvalidIdKind", repr(value))
        if not codecs.is_absolute_iri(value):
            raise EncodeError("InvalidId", value)
        return codecs.encode_iri(value)

    def transform_vocab(self, active: ActiveContext, value):
        if not isinstance(value, str):
            raise EncodeError("InvalidVocabTermKind", repr(value))
        return self.encode_vocab_term_str(active, value)

    def transform_typed_value(self, active: ActiveContext, value, type_):
        if not isinstance(value, str) or type_ is None:
            return _MISSING
        if self.tables.has_type_table(type_):
            return self.tables.encode_typed(type_, value)
        if type_ in ("@id", "@vocab"):
            return self.encode_vocab_term_str(active, value)
        if type_ == codecs.MULTIBASE_TYPE:
            return codecs.encode_multibase(value)
        if type_ == codecs.XSD_DATE:
            return codecs.encode_xsd_date(value)
        if type_ == codecs.XSD_DATE_TIME:
            return codecs.encode_xsd_date_time(value)
        return _MISSING

    @staticmethod
    def transform_int(value: int) -> int:
        # CBOR major 0/1 holds |n| < 2^64; the reference silently
        # degrades larger ints to lossy f64 (src/encode/mod.rs:241) —
        # a typed error keeps the round-trip invariant honest instead
        if not -(2 ** 64) < value < 2 ** 64:
            raise EncodeError("IntegerOverflow", str(value))
        return value


_INT_ONLY = {int}


class CborLdDecoder(_TransformerBase):
    """CBOR-LD -> JSON-LD (reference: src/decode/mod.rs:89-272)."""

    error_cls = DecodeError
    _plans: dict = {}

    @staticmethod
    def _as_input_object(value):
        return value if isinstance(value, CborMap) else None

    @staticmethod
    def _open(obj: CborMap):
        entries = obj.entries
        if not entries:
            return (), (), _MISSING, ()
        keys, vals = zip(*entries)
        found = _MISSING
        if 0 in keys or 1 in keys:
            # @context is id 0 (singular) or 1 (plural) (reference:
            # src/transform.rs:133-152).
            for k, v in entries:
                if isinstance(k, int) and not isinstance(k, bool) \
                        and k in (0, 1):
                    if found is not _MISSING:
                        raise duplicate_key(k)
                    found = v
        # exact ints only: True == 1.0 == 1 would share 1's plan
        return (keys, vals, found,
                keys if set(map(type, keys)) == _INT_ONLY else None)

    @staticmethod
    def _wrap_object(entries: list):
        # dict() would silently collapse duplicate decoded keys (e.g. a
        # crafted map carrying both singular id and plural id+1 of one
        # term) — reject instead of losing data
        out = dict(entries)
        if len(out) != len(entries):
            seen = set()
            for k, _ in entries:
                if k in seen:
                    raise duplicate_key(k)
                seen.add(k)
        return out

    def context_iri_ref(self, entry) -> str:
        if isinstance(entry, bool):
            raise DecodeError("InvalidContextTermKind", repr(entry))
        if isinstance(entry, int):
            url = self.tables.id_to_context.get(entry)
            if url is None:
                raise DecodeError("UndefinedCompressedContext", str(entry))
            return url
        if isinstance(entry, str):
            return entry
        raise DecodeError("InvalidContextTermKind", repr(entry))

    def context_id(self, _entry, url: str):
        return url

    def term_key(self, term: str, _plural: bool) -> str:
        return term

    def key_term(self, key, _value) -> tuple[str, bool] | None:
        if isinstance(key, bool) or not isinstance(key, int):
            raise DecodeError("InvalidVocabTermKind", repr(key))
        if key < 0:
            raise DecodeError("UndefinedCompressedTerm", str(key))
        return self.state.decode_term(key)

    def required_key_term(self, key, value) -> tuple[str, bool]:
        kt = self.key_term(key, value)
        if kt is None:
            # reference: MissingKeyTerm converts to
            # DecodeError::UndefinedCompressedTerm (src/decode/error.rs:73)
            raise DecodeError("UndefinedCompressedTerm", repr(key))
        return kt

    def value_term(self, active: ActiveContext, value) -> str:
        return self.decode_vocab_term_value(active, value)

    def transform_id(self, value):
        return codecs.decode_iri(value)

    def transform_vocab(self, active: ActiveContext, value):
        return self.decode_vocab_term_value(active, value)

    def transform_typed_value(self, active: ActiveContext, value, type_):
        if isinstance(value, CborMap) or type_ is None:
            return _MISSING
        if isinstance(value, list) and all(isinstance(v, CborMap)
                                           for v in value):
            # a list in a list of values: the encoder only puts nodes
            # and value objects there, and no compressed value (an IRI
            # is [codec id, ...]) is a list of maps
            return _MISSING
        if self.tables.has_type_table(type_):
            return self.tables.decode_typed(type_, value)
        if type_ in ("@id", "@vocab"):
            return self.decode_vocab_term_value(active, value)
        if type_ == codecs.MULTIBASE_TYPE:
            return codecs.decode_multibase(value)
        if type_ == codecs.XSD_DATE:
            return codecs.decode_xsd_date(value)
        if type_ == codecs.XSD_DATE_TIME:
            return codecs.decode_xsd_date_time(value)
        return _MISSING

    @staticmethod
    def transform_int(value: int) -> int:
        return value


class _Expander(CborLdEncoder):
    """The lenient walk: expansion to triples only (a pragmatic subset of
    W3C JSON-LD 1.1 Expansion + Deserialize JSON-LD to RDF).  It takes
    inline contexts, drops undefined terms, and reads the shapes the
    encoding sees differently (``@graph``/``@included`` aliases,
    ``@reverse``, ``@list``, data-keyed maps)."""

    strict = False
    _plans: dict = {}

    def __init__(self, loader: StaticLoader, sink: TripleSink):
        self.loader = loader
        self.sink = sink
        # its ids are unused, but the state keys this walk's plans
        self.state = idalloc.root()

    def process_global_context(self, active, context_value, propagate):
        return None, self._process_context_value(active, context_value,
                                                 propagate)

    def value_term(self, active, value):
        return value if isinstance(value, str) else None

    def _nothing(self, *_):
        return None

    # no output document
    term_key = transform_id = transform_vocab = _wrap_object = _quiet = \
        _nothing

    def _lenient(self, step: str, *args) -> None:
        getattr(self, step)(*args)

    def _structured(self, active, prop_active, d, term, value, values,
                    subject):
        sink = self.sink
        pred = term if d is None else d.iri
        if pred == "@graph" or pred == "@included":
            # W3C 1.1 §4.7: graph and included node objects expand as
            # independent nodes in the *same* graph
            for v in values:
                if isinstance(v, dict):
                    self.transform_node(active, v)
        elif d is None or pred is None or pred.startswith("_:") \
                or not codecs.is_absolute_iri(pred):
            pass  # undefined terms and blank-node predicates are dropped
        elif d.reverse:
            # @reverse property: object nodes point back at the subject
            for v in values:
                if isinstance(v, dict):
                    child = self.transform_node(prop_active, v)[1]
                else:
                    child = isinstance(v, str) and sink.node_id(prop_active, v)
                if child:
                    sink.emit(child, pred, subject, True)
        elif isinstance(value, dict) and d.container & MAP_CONTAINERS:
            self._map(prop_active, d, value, subject, pred)
        elif "@list" in d.container:
            head = node = sink.bnode() if values else RDF_NIL
            for i, v in enumerate(values):
                self._value(active, prop_active, d, v, node, RDF_FIRST)
                nxt = sink.bnode() if i + 1 < len(values) else RDF_NIL
                sink.emit(node, RDF_REST, nxt, True)
                node = nxt
            sink.emit(subject, pred, head, True)
        else:
            for v in values:
                self._value(active, prop_active, d, v, subject, pred)

    def _map(self, prop_active, d, value: dict, subject, pred) -> None:
        """Language, index, id and type maps: keys are data, not terms."""
        container = d.container
        aliases = prop_active.aliases
        for key in sorted(value):
            items = value[key]
            for v in items if isinstance(items, list) else [items]:
                if "@language" in container:
                    if isinstance(v, str):
                        self.sink.emit(subject, pred, v, False, None, key)
                    continue
                if "@index" in container:
                    # index keys are dropped in RDF
                    self._value(prop_active, prop_active, d, v, subject, pred)
                    continue
                # the key is the value node's @id, or a type it gets
                # ("@none": neither)
                kw = "@id" if "@id" in container else "@type"
                if not isinstance(v, dict):
                    # JSON-LD 1.1 §4.6.3: map values must be node objects;
                    # dropping them silently would lose data, so
                    # quarantine the document instead
                    raise CborLdError(
                        "InvalidIdMapValue" if kw == "@id"
                        else "InvalidTypeMapValue",
                        f"{kw} container map value for {key!r} "
                        "is not a node object")
                node = dict(v)
                if key != "@none":
                    k = next((k for k in node if aliases.get(k, k) == kw),
                             None)
                    if k is None:
                        node[kw] = key
                    elif kw == "@type":
                        have = node[k]
                        node[k] = [key] + (have if isinstance(have, list)
                                           else [have])
                child = self.transform_node(prop_active, node)[1]
                self.sink.emit(subject, pred, child, True)


# --- public per-document API ------------------------------------------------

def _reject_duplicates(pairs):
    out = dict(pairs)
    if len(out) != len(pairs):
        seen = set()
        for k, _ in pairs:
            if k in seen:
                raise duplicate_key(k)
            seen.add(k)
    return out


def parse_json_document(text: str | bytes) -> dict:
    """JSON parse with duplicate-key rejection (reference: src/transform.rs:94).

    Tolerates a UTF-8 BOM (ubiquitous in real repositories even though
    RFC 8259 forbids it); rejects the non-JSON literals NaN/Infinity
    (the reference's serde_json rejects them at parse too — accepting
    them would emit non-finite CBOR floats no decoder takes back).
    """
    if isinstance(text, bytes):
        text = text.decode("utf-8-sig")
    else:
        text = text.lstrip("﻿")
    return json.loads(text, object_pairs_hook=_reject_duplicates,
                      parse_constant=_reject_constant)


def _reject_constant(name: str):
    raise CborLdError("InvalidValue", f"non-JSON literal {name}")


def _json_to_plain_cbor(value):
    """Uncompressed CBOR-LD payload: JSON tree -> CBOR verbatim (text keys)."""
    if isinstance(value, float) and (value != value or value in
                                     (float("inf"), float("-inf"))):
        raise EncodeError("NonFiniteFloat", repr(value))
    if isinstance(value, dict):
        return CborMap([(k, _json_to_plain_cbor(v)) for k, v in value.items()])
    if isinstance(value, list):
        return [_json_to_plain_cbor(v) for v in value]
    return value


def _plain_cbor_to_json(value):
    if isinstance(value, float) and (value != value or value in
                                     (float("inf"), float("-inf"))):
        raise DecodeError("NonFiniteFloat", repr(value))
    if isinstance(value, CborMap):
        out = {}
        for k, v in value.entries:
            if not isinstance(k, str):
                raise DecodeError("InvalidValue", "uncompressed map key must be text")
            out[k] = _plain_cbor_to_json(v)
        return out
    if isinstance(value, list):
        return [_plain_cbor_to_json(v) for v in value]
    if isinstance(value, bytes):
        raise DecodeError("InvalidValue", "bytes not representable in JSON")
    return value


def encode_document(doc: dict | str | bytes, registry_id: int = 1,
                    loader: StaticLoader | None = None) -> bytes:
    """JSON-LD document -> CBOR-LD bytes with the 0x06xx envelope tag.

    ``registry_id=0`` is the uncompressed mode: the document is CBOR
    encoded verbatim under tag 0x0600 (the reference leaves this
    ``todo!()`` at src/encode/mod.rs:44-46; the CBOR-LD spec defines it,
    so we support it).
    """
    if not isinstance(doc, dict):
        if not isinstance(doc, (str, bytes)):
            raise expected_object()
        doc = parse_json_document(doc)
        if not isinstance(doc, dict):
            raise expected_object()
    if registry_id == 0:
        return dumps(CborTag(CBOR_LD_TAG_HIGH << 8, _json_to_plain_cbor(doc)))
    enc = CborLdEncoder(loader or StaticLoader.default(),
                        tables_for_registry(registry_id))
    return _envelope(registry_id, enc.transform(EMPTY_CONTEXT, doc))


def encode_with_triples(doc: dict, registry_id: int = 1,
                        bnode_prefix: str = "_:",
                        loader: StaticLoader | None = None,
                        ) -> tuple[bytes, TripleSink]:
    """``encode_document`` of a parsed document, plus its triples emitted
    by the same walk: ``expand_to_triples(doc)`` with ``bnode_prefix`` for
    each blank label's ``_:``.  The first expansion error does not raise:
    it waits in ``sink.error``, so encode and decode errors come first."""
    loader = loader or StaticLoader.default()
    sink = TripleSink(bnode_prefix)
    if registry_id != 0:
        enc = CborLdEncoder(loader, tables_for_registry(registry_id))
        enc.sink = sink
        return _envelope(registry_id, enc.transform(EMPTY_CONTEXT, doc)), sink
    # uncompressed: there is no encoder walk to ride on
    cbor = dumps(CborTag(CBOR_LD_TAG_HIGH << 8, _json_to_plain_cbor(doc)))
    try:
        expand_into(sink, doc, loader)
    except Exception as e:  # noqa: BLE001 — reported after decode
        sink.error = e
    return cbor, sink


def expand_into(sink: TripleSink, doc: dict,
                loader: StaticLoader | None = None) -> None:
    """Emit a parsed document's triples with the lenient walk."""
    _Expander(loader or StaticLoader.default(), sink).transform_node(
        EMPTY_CONTEXT, doc)


def _envelope(registry_id: int, inner) -> bytes:
    tag, varint_rest = registry_tag(registry_id)
    if varint_rest:
        # id >= 128: remaining varint bytes prepend as [bstr, payload]
        return dumps(CborTag(tag, [varint_rest, inner]))
    return dumps(CborTag(tag, inner))


def decode_document(data: bytes, loader: StaticLoader | None = None) -> dict:
    """CBOR-LD bytes -> JSON-LD document (dict)."""
    try:
        value = loads(data)
    except ValueError as e:
        # reference: DecodeError::Cbor(ciborium::de::Error) — truncated or
        # malformed CBOR gets a typed kind instead of a raw ValueError
        raise DecodeError("Cbor", str(e)) from None
    if not isinstance(value, CborTag):
        raise not_cbor_ld()
    if value.tag >> 8 != CBOR_LD_TAG_HIGH:
        raise not_cbor_ld()
    first = value.tag & 0xFF
    if first & 0x80:
        # varint registry id (>= 128): payload is [bstr(rest), payload]
        if (not isinstance(value.value, list) or len(value.value) != 2
                or not isinstance(value.value[0], bytes)):
            raise DecodeError("NotCborLd",
                              "varint-registry payload must be [bstr, value]")
        try:
            registry_id = varint_decode(bytes([first]) + value.value[0])
        except EncodeError as e:
            raise DecodeError(e.kind, e.message) from None
        value = CborTag(value.tag, value.value[1])
    else:
        registry_id = first
    if registry_id == 0:
        out = _plain_cbor_to_json(value.value)
        if not isinstance(out, dict):
            raise expected_object()
        return out
    loader = loader or StaticLoader.default()
    try:
        tables = tables_for_registry(registry_id)
    except EncodeError as e:
        raise DecodeError(e.kind, e.message) from None
    dec = CborLdDecoder(loader, tables)
    return dec.transform(EMPTY_CONTEXT, value.value)
