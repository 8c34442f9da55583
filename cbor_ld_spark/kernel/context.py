"""JSON-LD 1.1 context processing (W3C JSON-LD 1.1 §4.1/§4.2 subset).

The reference delegates this to the ``json-ld`` crate and only *consumes*
the resulting term definitions (reference: src/transform.rs:283-320).  We
implement the Context Processing / Create Term Definition algorithms in
pure Python, scoped to the features the CBOR-LD credential ecosystem
actually exercises (verified against every vendored context document):

* keyword aliases (``"type": "@type"``), simple string definitions,
  compact-IRI (CURIE) values with in-context prefix resolution,
* expanded definitions: ``@id``, ``@type`` coercion (``@id``/``@vocab``/
  ``@json``/IRI), ``@container``, property-/type-scoped ``@context``,
  ``@prefix``, ``@protected``, ``@language``, ``@direction``, ``@reverse``,
* ``@vocab`` / ``@base`` / ``@version`` / ``@propagate`` members,
* remote contexts by URL through an offline loader, with cycle detection.

Determinism contract: processing the same (active-context fingerprint,
context value, propagate) triple always yields the same resulting term
set, and ``alloc_terms`` exposes them in the exact order the CBOR-LD
id allocator must see (sorted over the *full* definition set — reference:
src/transform.rs:305-317).  Results are memoized process-wide, keyed on
the parent context object (which the memo itself interned): a corpus
re-uses a handful of context chains across billions of documents, so on a
Spark executor the cache hit rate is ~100% after the first document of
each shape (this is the "Cow + lazy_static" of the reference, adapted to
a long-lived executor process).
"""

from __future__ import annotations

import hashlib
import json
import weakref
from typing import Any, Mapping

from urllib.parse import urljoin

from .codecs import is_absolute_iri
from .errors import ContextError
from .keywords import is_keyword

_GEN_DELIMS = set(":/?#[]@")

_CONTAINER_VALUES = {
    "@set", "@list", "@graph", "@language", "@index", "@id", "@type", "@none",
}

# containers keyed by data, not terms; with @list, the containers whose
# values do not expand one by one into (subject, term, value) triples
MAP_CONTAINERS = frozenset({"@language", "@index", "@id", "@type"})
_STRUCTURED_CONTAINERS = MAP_CONTAINERS | {"@list"}


class TermDefinition:
    __slots__ = (
        "term", "iri", "prefix", "protected", "type_", "container",
        "local_context", "base_url", "language", "direction", "reverse",
        "nest", "index", "has_language", "has_direction",
    )

    def __init__(self, term: str):
        self.term = term
        self.iri: str | None = None
        self.prefix = False
        self.protected = False
        self.type_: str | None = None
        self.container: frozenset[str] = frozenset()
        self.local_context: Any = None  # raw scoped-context value
        self.base_url: str | None = None
        self.language: str | None = None
        self.direction: str | None = None
        self.reverse = False
        self.nest: str | None = None
        self.index: str | None = None
        self.has_language = False
        self.has_direction = False


class ActiveContext:
    """Immutable-by-convention processed context."""

    __slots__ = (
        "terms", "vocab", "base", "default_language", "default_direction",
        "fingerprint", "alloc_terms", "aliases", "predicates",
    )

    def __init__(self) -> None:
        self.terms: dict[str, TermDefinition] = {}
        self.vocab: str | None = None
        self.base: str | None = None
        self.default_language: str | None = None
        self.default_direction: str | None = None
        self.fingerprint: tuple = ()
        self.alloc_terms: tuple[str, ...] = ()
        self.aliases: dict[str, str] = {}
        self.predicates: dict[str, str] = {}

    def copy(self) -> "ActiveContext":
        c = ActiveContext.__new__(ActiveContext)
        c.terms = dict(self.terms)
        c.vocab = self.vocab
        c.base = self.base
        c.default_language = self.default_language
        c.default_direction = self.default_direction
        c.fingerprint = self.fingerprint
        c.alloc_terms = self.alloc_terms
        c.aliases = self.aliases
        c.predicates = self.predicates
        return c

    def get(self, term: str) -> TermDefinition | None:
        return self.terms.get(term)

    def seal(self) -> None:
        # precomputed once per (cached) context: the exact allocation
        # sequence the CBOR-LD id allocator must see
        self.alloc_terms = tuple(t for t in sorted(self.terms)
                                 if not is_keyword(t))
        # the expansion's lookups: ``aliases.get(t, t)`` is the keyword t
        # stands for (or t), ``predicates`` the terms whose values expand
        # one by one under a usable predicate IRI
        self.aliases = {t: d.iri for t, d in self.terms.items()
                        if d.iri is not None and is_keyword(d.iri)}
        self.predicates = {
            t: d.iri for t, d in self.terms.items()
            if d.iri is not None and not d.reverse
            and not d.container & _STRUCTURED_CONTAINERS
            and not d.iri.startswith("_:") and is_absolute_iri(d.iri)}


EMPTY_CONTEXT = ActiveContext()


# Identity-keyed memo for non-string context values.  Scoped contexts are
# sub-objects of loader-cached documents, so the same dict object recurs
# for every document sharing a context chain; keeping a strong reference
# in the memo pins the id() so it can't be reused.
_IDENTITY_KEYS: dict[int, tuple[Any, str]] = {}


def _context_cache_key(value: Any) -> str:
    if isinstance(value, str):
        return "u:" + value
    hit = _IDENTITY_KEYS.get(id(value))
    if hit is not None and hit[0] is value:
        return hit[1]
    blob = json.dumps(value, sort_keys=True, separators=(",", ":"))
    key = "h:" + hashlib.sha256(blob.encode()).hexdigest()[:24]
    if len(_IDENTITY_KEYS) < 65536:
        _IDENTITY_KEYS[id(value)] = (value, key)
    return key


# Loader identity tokens: two loaders may resolve the same context URL to
# different documents in one process, so every memo key must carry which
# loader produced the result.  The token lives ON the loader object (it
# dies with it — no cache to manage, no id()-reuse hazard, and the
# lookup is one getattr in the memo hot path); the weakref map is only
# the fallback for exotic slotted loaders that reject attributes.
_LOADER_TOKENS: dict[int, tuple[Any, int]] = {}
_LOADER_COUNTER = iter(range(1, 1 << 62)).__next__


def _loader_token(loader) -> int:
    token = getattr(loader, "_cbor_ld_token", None)
    if token is not None:
        return token
    token = _LOADER_COUNTER()
    try:
        loader._cbor_ld_token = token
        return token
    except AttributeError:
        pass
    hit = _LOADER_TOKENS.get(id(loader))
    if hit is not None and hit[0]() is loader:
        return hit[1]
    if len(_LOADER_TOKENS) >= 1024:
        for k in [k for k, (ref, _t) in _LOADER_TOKENS.items()
                  if ref() is None]:
            del _LOADER_TOKENS[k]
    try:
        ref = weakref.ref(loader)
    except TypeError:
        # __slots__ without __weakref__ rejects both attribute assignment
        # and weak references: hand out a fresh token per call (correct —
        # just unmemoized — rather than raising)
        return token
    _LOADER_TOKENS[id(loader)] = (ref, token)
    return token


# (parent context, loader token, context key, base_url, propagate,
#  override_protected) -> ActiveContext.  Keyed on the parent object, not
# its fingerprint: results are interned, so a chain's contexts recur as
# the same objects and the key hashes by identity.
_PROCESS_CACHE: dict[tuple, ActiveContext] = {}
_PROCESS_CACHE_MAX = 4096


def process_context(
    active: ActiveContext,
    local_context: Any,
    loader,
    base_url: str | None = None,
    propagate: bool = True,
    remote_contexts: frozenset[str] = frozenset(),
    override_protected: bool = False,
) -> ActiveContext:
    """W3C Context Processing Algorithm (§4.1.2), memoized.

    ``override_protected=True`` is the property-scoped-context invocation
    (spec §4.1.2 step 5.1.3 analog): redefining protected terms is then
    allowed; otherwise a differing redefinition raises.
    """
    cache_key = (active, _loader_token(loader),
                 _context_cache_key(local_context), base_url, propagate,
                 override_protected)
    hit = _PROCESS_CACHE.get(cache_key)
    if hit is not None:
        return hit

    result = active.copy()
    items = local_context if isinstance(local_context, list) else [local_context]

    for item in items:
        if item is None:
            # null -> reset to initial context (propagation subtleties not
            # needed: the reference never consults previous_context,
            # src/transform.rs:346-359 is commented out).
            result = ActiveContext()
            result.fingerprint = (*active.fingerprint, "null")
            continue

        if isinstance(item, str):
            url = urljoin(base_url, item) if base_url else item
            if url in remote_contexts:
                raise ContextError("ContextCycle", url)
            doc = loader.load(url)
            if not isinstance(doc, Mapping) or "@context" not in doc:
                raise ContextError("InvalidRemoteContext", url)
            result = process_context(
                result,
                doc["@context"],
                loader,
                base_url=url,
                propagate=propagate,
                remote_contexts=remote_contexts | {url},
                override_protected=override_protected,
            )
            continue

        if not isinstance(item, Mapping):
            raise ContextError("InvalidLocalContext", repr(type(item)))

        if "@import" in item:
            # W3C §4.1.2 steps 5.6: load the referenced context (a map,
            # no nested @import) and use it as the base the current
            # entries override.  Silently ignoring @import would
            # byte-diverge from the reference's json-ld crate.
            imp = item["@import"]
            if not isinstance(imp, str):
                raise ContextError("InvalidImportValue", repr(imp))
            imp_url = urljoin(base_url, imp) if base_url else imp
            imp_doc = loader.load(imp_url)
            if not isinstance(imp_doc, Mapping) or "@context" not in imp_doc:
                raise ContextError("InvalidRemoteContext", imp_url)
            imported = imp_doc["@context"]
            if not isinstance(imported, Mapping):
                raise ContextError("InvalidRemoteContext",
                                   f"{imp_url}: @import target must be a "
                                   "context definition")
            if "@import" in imported:
                raise ContextError("InvalidContextEntry",
                                   f"{imp_url}: nested @import")
            merged = dict(imported)
            merged.update(item)
            del merged["@import"]
            item = merged

        result = result.copy()
        result.fingerprint = (*result.fingerprint, _context_cache_key(item))

        if "@version" in item:
            v = item["@version"]
            if v != 1.1:
                raise ContextError("InvalidVersionValue", repr(v))
        if "@base" in item:
            b = item["@base"]
            if b is None:
                result.base = None
            elif isinstance(b, str):
                result.base = urljoin(result.base, b) if result.base else b
            else:
                raise ContextError("InvalidBaseIRI", repr(b))
        if "@vocab" in item:
            v = item["@vocab"]
            if v is None:
                result.vocab = None
            elif isinstance(v, str):
                result.vocab = expand_iri(result, v, vocab=True, document_relative=True)
            else:
                raise ContextError("InvalidVocabMapping", repr(v))
        if "@language" in item:
            result.default_language = item["@language"]
        if "@direction" in item:
            result.default_direction = item["@direction"]

        protected_default = bool(item.get("@protected", False))
        defined: dict[str, bool] = {}
        for key in item:
            if key in ("@base", "@vocab", "@language", "@direction", "@version",
                       "@protected", "@propagate", "@import"):
                continue
            _create_term_definition(
                result, item, key, defined,
                base_url=base_url,
                protected_default=protected_default,
                override_protected=override_protected,
            )

    result.seal()
    if len(_PROCESS_CACHE) >= _PROCESS_CACHE_MAX:
        _PROCESS_CACHE.clear()
    _PROCESS_CACHE[cache_key] = result
    return result


def _create_term_definition(
    active: ActiveContext,
    local_context: Mapping,
    term: str,
    defined: dict[str, bool],
    base_url: str | None,
    protected_default: bool,
    override_protected: bool = False,
) -> None:
    """W3C Create Term Definition (§4.2.2), scoped subset."""
    state = defined.get(term)
    if state is True:
        return
    if state is False:
        raise ContextError("CyclicIriMapping", term)
    defined[term] = False

    if is_keyword(term):
        # 1.1 allows @type redefinition with @container: @set; it carries no
        # term id (filtered by is_keyword at allocation) — ignore.
        defined[term] = True
        return
    if term == "":
        raise ContextError("InvalidTermDefinition", "empty term")

    value = local_context[term]
    previous = active.terms.pop(term, None)

    if value is None:
        value = {"@id": None}
    elif isinstance(value, str):
        value = {"@id": value}
    elif not isinstance(value, Mapping):
        raise ContextError("InvalidTermDefinition", term)

    simple_term = isinstance(local_context[term], str)
    d = TermDefinition(term)
    d.protected = bool(value.get("@protected", protected_default))

    if "@type" in value:
        t = value["@type"]
        if not isinstance(t, str):
            raise ContextError("InvalidTypeMapping", term)
        if t not in ("@id", "@vocab", "@json", "@none"):
            t = expand_iri(active, t, vocab=True,
                           local_context=local_context, defined=defined)
        d.type_ = t

    if "@reverse" in value:
        d.reverse = True
        d.iri = expand_iri(active, value["@reverse"], vocab=True,
                           local_context=local_context, defined=defined)
    elif "@id" in value or simple_term:
        vid = value.get("@id")
        if vid is None and "@id" in value:
            d.iri = None  # term explicitly decoupled
        elif vid is not None and vid != term:
            if not isinstance(vid, str):
                raise ContextError("InvalidIriMapping", term)
            if is_keyword(vid) or _looks_like_keyword(vid):
                if _looks_like_keyword(vid) and not is_keyword(vid):
                    # "keyword-like" values are ignored per spec — but a
                    # pre-existing (possibly protected) definition must
                    # survive, or a hostile {"term": {"@id": "@fake"}}
                    # would silently strip a protected term
                    if previous is not None:
                        active.terms[term] = previous
                    defined[term] = True
                    return
                d.iri = vid
            else:
                d.iri = expand_iri(active, vid, vocab=True,
                                   local_context=local_context, defined=defined)
            if simple_term and ":" not in term and "/" not in term and \
                    d.iri and d.iri[-1] in _GEN_DELIMS:
                d.prefix = True
        else:
            d.iri = _default_iri_mapping(active, local_context, term, defined)
    else:
        d.iri = _default_iri_mapping(active, local_context, term, defined)

    if "@container" in value:
        c = value["@container"]
        members = c if isinstance(c, list) else [c]
        for m in members:
            if m not in _CONTAINER_VALUES:
                raise ContextError("InvalidContainerMapping", f"{term}: {m}")
        d.container = frozenset(members)

    if "@context" in value:
        d.local_context = value["@context"]
        d.base_url = base_url

    if "@language" in value and "@type" not in value:
        d.language = value["@language"]
        d.has_language = True
    if "@direction" in value and "@type" not in value:
        d.direction = value["@direction"]
        d.has_direction = True
    if "@prefix" in value:
        if ":" in term or "/" in term:
            raise ContextError("InvalidTermDefinition", f"@prefix on {term}")
        d.prefix = bool(value["@prefix"])
    if "@nest" in value:
        d.nest = value["@nest"]
    if "@index" in value:
        d.index = value["@index"]

    if previous is not None and previous.protected and not override_protected:
        if not _same_definition(previous, d):
            # the reference's json-ld crate raises on differing
            # redefinition of an @protected term
            active.terms[term] = previous
            raise ContextError("ProtectedTermRedefinition", term)
        # identical redefinition is allowed but keeps the PREVIOUS
        # definition (spec §4.2.2 keeps it, so protection is retained —
        # storing d would launder @protected away through one identical
        # unprotected redefinition)
        active.terms[term] = previous
        defined[term] = True
        return

    active.terms[term] = d
    defined[term] = True


_COMPARE_SLOTS = tuple(s for s in TermDefinition.__slots__
                       if s != "protected")


def _same_definition(a: TermDefinition, b: TermDefinition) -> bool:
    """Definition equality modulo @protected (spec §4.2.2 step 5)."""
    return all(getattr(a, s) == getattr(b, s) for s in _COMPARE_SLOTS)


def _default_iri_mapping(active, local_context, term, defined) -> str | None:
    # Term has no @id: if it is a compact IRI or has a vocab mapping,
    # derive the IRI from the term itself.
    if ":" in term[1:]:
        prefix, _, _suffix = term.partition(":")
        if prefix in local_context:
            _create_term_definition(active, local_context, prefix, defined,
                                    base_url=None, protected_default=False)
        return expand_iri(active, term, vocab=True)
    if "/" in term:
        return expand_iri(active, term, vocab=True, document_relative=False)
    if active.vocab is not None:
        return active.vocab + term
    raise ContextError("InvalidIriMapping", term)


def _looks_like_keyword(value: str) -> bool:
    return (
        len(value) > 1
        and value[0] == "@"
        and value[1:].isalpha()
    )


def expand_iri(
    active: ActiveContext,
    value: str | None,
    vocab: bool = False,
    document_relative: bool = False,
    local_context: Mapping | None = None,
    defined: dict[str, bool] | None = None,
) -> str | None:
    """W3C IRI Expansion (§5.2.2)."""
    if value is None or is_keyword(value):
        return value
    if _looks_like_keyword(value):
        return None
    if local_context is not None and value in local_context and \
            (defined is None or defined.get(value) is not True):
        _create_term_definition(active, local_context, value, defined or {},
                                base_url=None, protected_default=False)
    if vocab:
        d = active.terms.get(value)
        if d is not None:
            return d.iri
    if ":" in value[1:]:
        prefix, _, suffix = value.partition(":")
        if prefix == "_" or suffix.startswith("//"):
            return value
        if local_context is not None and prefix in local_context and \
                (defined is None or defined.get(prefix) is not True):
            _create_term_definition(active, local_context, prefix, defined or {},
                                    base_url=None, protected_default=False)
        pd = active.terms.get(prefix)
        if pd is not None and pd.iri and pd.prefix:
            return pd.iri + suffix
        return value
    if vocab and active.vocab is not None:
        return active.vocab + value
    if document_relative and active.base:
        return urljoin(active.base, value)
    return value
