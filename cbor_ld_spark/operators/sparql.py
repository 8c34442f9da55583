"""SPARQL text surface of the query layer: property paths and a
SPARQL 1.1 query subset, parsed into the specs that
``operators/bgp.match_bgp`` / ``match_union`` / ``match_path`` run.
A spec's group members are the entries of ``operators/algebra``:
pattern tuples, ``Path`` and ``OptionalGroup``.  The CLI
(``jobs/kg_query.py --sparql``) and the ``kg_sparql_*`` registry
queries use it.  Terms match string-level against the triples table:
``<>`` and double quotes are stripped, everything else is matched as
written.

Lexical rules.  One function, ``_opaque_end``, decides which spans are
opaque text.  Its context says how:

* TERM, a query word (``_sparql_tokens``): ``<`` runs to the next
  ``>``, ``"`` quotes, and ``(`` runs to its balanced ``)`` read in the
  PAREN context, so ``<p>+/<q>`` and ``(cast(a as int) >= 50)`` each
  stay one word;
* PAREN, inside a ``( … )`` body: ``<`` is opaque only where it opens
  an ``_IRIREF`` (so ``?a<3`` stays a comparison), and ``"`` and ``'``
  both quote;
* PATH, a path or a predicate: ``<`` runs to the next ``>`` (an https
  IRI holds ``/``); nothing quotes;
* NAME, prefixed-name expansion: ``<`` runs to the next ``>``, and
  ``"`` and ``'`` both quote;
* EXPR, an expression body (``_devar``, ``bgp._split_conjuncts``):
  ``"`` and ``'`` quote, and ``<`` is never opaque, so
  ``?a<?b&&?c>?d`` is two comparisons.

Query tokens are ``{``, ``}``, the statement ``.`` (followed by
whitespace, a brace or the end) and words.  Keywords are
case-insensitive.

Grammar::

    path      := unit ('/' unit)*                      sequence
    unit      := operand ('|' operand)*                alternation
    operand   := (atom | '(' path ')') ('+' | '*' | '?')?
    atom      := '^'? '!'? ('<' iri '>' | bare)        bare ends at
                                                       space ()/|+*?^!<
    pattern   := term (term | path) term               no term is '.',
                                                       '{', '}' or a
                                                       keyword, KW(…)
                                                       included
    term      := '?'var | '<' iri '>' | '"' literal '"' | bare | 'a'
    query     := ('PREFIX' name ':' '<' iri '>')*
                 (select | ask | construct | describe)
    select    := 'SELECT' ('DISTINCT' | 'REDUCED')? ('*' | item+)
                 'WHERE' group modifier*
    item      := '?'var | '(' expr 'AS' '?'var ')'
    ask       := 'ASK' 'WHERE'? group
    construct := 'CONSTRUCT' group 'WHERE' group
    describe  := 'DESCRIBE' term+ ('WHERE'? group)?
    modifier  := 'GROUP' 'BY' '?'var+ | 'HAVING' '(' expr ')'
               | 'ORDER' 'BY' (('ASC' | 'DESC')? '(' expr ')' | '?'var)+
               | 'LIMIT' int | 'OFFSET' int
    group     := '{' (member | '.')* '}'
    member    := pattern | 'OPTIONAL' group | 'MINUS' group
               | 'FILTER' '(' expr ')' | 'FILTER' 'NOT'? 'EXISTS' group
               | 'BIND' '(' expr 'AS' '?'var ')' | 'GRAPH' term group
               | 'VALUES' data | '{' select '}' | group ('UNION' group)+
    data      := '?'var '{' (term | 'UNDEF')* '}'
               | '(' '?'var+ ')' '{' ('(' (term | 'UNDEF')+ ')')* '}'

``KW(…)`` and ``KW (…)`` read alike.  Which members a group admits
depends on where it stands (``_ADMITS``): the WHERE group every
member; an OPTIONAL group patterns, paths and FILTER; UNION branches,
MINUS and FILTER [NOT] EXISTS groups patterns and paths; GRAPH groups
and CONSTRUCT templates patterns only.

Meaning, and where it departs from SPARQL:

* Prefixed names of declared prefixes expand to ``<iri>`` where a term
  is read: a pattern's subject, predicate or path, and object; a GRAPH
  or DESCRIBE term; a VALUES datum; a CONSTRUCT template term.
  Expression bodies are not term positions, so names there stay as
  written (use full IRIs as string literals).  Undeclared colon names
  (``urn:``, ``did:``) and quoted literals pass.  ``a`` in predicate
  position is rdf:type.
* A predicate with path syntax (``/ | ^ ! + * ?`` or parentheses
  outside ``<…>``) is a property path, a ``Path`` entry among the
  patterns.  A lone path runs ``match_path``; beside other members it
  joins the BGP like a pattern; a ground endpoint runs the seeded
  tier.  In an all-atom alternation only the last atom may carry a
  modifier, and it applies to the whole alternation (``q|r+`` is
  ``(q|r)+``; write ``q|(r)+`` for the per-alternative reading); with a
  group operand each operand keeps its own modifier.
* Expression bodies (FILTER, BIND, HAVING, ORDER BY keys, ``(expr AS
  ?v)``) take the SPARQL 1.1 §17 subset that ``_devar`` translates
  name-for-name to Spark SQL, so plain Spark SQL passes too.
* Set semantics throughout: DISTINCT and REDUCED are accepted no-ops,
  and a plain SELECT dedupes.  With aggregates, plain SELECT variables
  must be GROUP BY keys.  ORDER BY expressions range over the projected
  variables.  OFFSET applies before LIMIT.
* A one-member OPTIONAL group is a plain left join; a larger or
  filtered one is a §18.5 LeftJoin unit (the whole group binds or
  nothing does), its FILTERs over group-local variables only.
* FILTER EXISTS, FILTER NOT EXISTS and MINUS are the connected case
  (one semi or anti join on the shared variables; MINUS equals NOT
  EXISTS there); a disconnected group is rejected.
* A subquery runs bottom-up and joins on the shared projected
  variables; one sharing none must be a scalar aggregate.
* BINDs apply after the required patterns and paths, in member order
  and before the FILTERs; the variable must be fresh.  VALUES joins
  after the whole group: bound variables are join keys (UNDEF matches
  anything), fresh ones new bindings.
* GRAPH patterns are quads over the named graphs; a variable binds the
  graph label the group shares.
* One UNION block per group.  Alone it is the base relation; beside
  other members it joins their bindings on the shared variables, which
  every branch must bind.
* CONSTRUCT drops instantiations that hold a NULL.  DESCRIBE returns
  the described nodes' outgoing triples.
"""

from __future__ import annotations

import re as _re

from .algebra import (Alt, Atom, Group, OptionalGroup, Path, mentions,
                      variables)

_MODS = {"+": "plus", "*": "star", "?": "opt"}
_PUNCT = "()/|+*?"
_IRIREF = _re.compile(r"<[^<>\"{}|^`\\()\x00-\x20]*>")
# lexical contexts (module docstring): how '<' reads, which characters
# quote, and whether '(' opens a balanced segment
_TERM = (">", '"', True)
_PAREN = ("iri", "\"'", False)
_PATH = (">", "", False)
_NAME = (">", "\"'", False)
_EXPR = ("", "\"'", False)


def _opaque_end(text: str, i: int, context: tuple) -> int:
    """Where the opaque segment opening at ``text[i]`` ends in a lexical
    context, or ``i`` when none opens there.  Raises ValueError for a
    segment that never closes."""
    lt, quotes, parens = context
    c = text[i]
    if c == "<" and lt == "iri":
        m = _IRIREF.match(text, i)
        return m.end() if m else i
    if c in quotes or (c == "<" and lt == ">"):
        k = text.find(">" if c == "<" else c, i + 1)
        if k < 0:
            raise ValueError(f"unterminated {c!r} in {text!r} at {i}")
        return k + 1
    if c == "(" and parens:
        depth, k = 0, i
        while k < len(text):
            j = _opaque_end(text, k, _PAREN)
            if j == k:
                depth += (text[k] == "(") - (text[k] == ")")
                j = k + 1
                if not depth:
                    return j
            k = j
        raise ValueError(f"unbalanced '(' in {text!r} at {i}")
    return i


def parse_term(tok: str) -> str:
    """One pattern term: ?var kept verbatim (match_bgp's variable
    marker), <iri> and "literal" unwrapped, bare tokens as-is."""
    if not tok:
        raise ValueError("empty pattern term")
    if tok.startswith("?"):
        if len(tok) == 1:
            raise ValueError("bare '?' variable")
        return tok
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if len(tok) >= 2 and tok[0] == '"' and tok[-1] == '"':
        # tokens straight from _sparql_tokens keep their quotes
        # (shlex-sourced CLI terms arrive pre-stripped)
        return tok[1:-1]
    return tok


def _tokenize_path(expr: str) -> list:
    """Tokens: single punctuation chars from ``()/|+*?`` and
    ``('atom', value)`` pairs with the ``^``/``!`` prefix folded in."""
    toks: list = []
    i, n = 0, len(expr)
    while i < n:
        c = expr[i]
        if c.isspace():
            i += 1
            continue
        if c in _PUNCT:
            toks.append(c)
            i += 1
            continue
        prefix = ""
        if c == "^":
            prefix, i = "^", i + 1
        if i < n and expr[i] == "!":
            if prefix:
                raise ValueError("'^' on a negated (!) atom is not "
                                 "supported in this subset")
            prefix, i = "!", i + 1
        j = i
        if i < n and expr[i] == "<":
            i = _opaque_end(expr, i, _PATH)
            atom = expr[j + 1:i - 1]
        else:
            while i < n and expr[i] not in _PUNCT + "^!<" \
                    and not expr[i].isspace():
                i += 1
            atom = expr[j:i]
        if not atom:
            raise ValueError(f"empty path atom in {expr!r}")
        toks.append(("atom", prefix + atom))
    return toks


def _parse_unit(toks: list, pos: int) -> tuple[tuple, int]:
    """One unit: an alternation of operands (atoms or parenthesised
    groups), each with an optional trailing modifier; the modifier
    rules are in the module docstring.  A modifier on a non-last atom
    of an all-atom alternation is rejected with the hint."""
    if pos >= len(toks) or toks[pos] in ("/", "|"):
        raise ValueError("empty step in path")
    # operands: ('atom', value, mod|None) / ('group', steps, mod|None)
    operands: list[tuple] = []
    while True:
        if pos >= len(toks):
            raise ValueError("dangling '|' in path")
        t = toks[pos]
        if t == "(":
            sub, pos = _parse_seq(toks, pos + 1)
            if pos >= len(toks) or toks[pos] != ")":
                raise ValueError("unbalanced '(' in path")
            operand = ("group", sub)
        elif isinstance(t, tuple) and t[0] == "atom":
            operand = t
        else:
            raise ValueError(f"unexpected {t!r} in path")
        pos += 1
        mod = _MODS.get(toks[pos]) if pos < len(toks) else None
        operands.append((*operand, mod))
        pos += mod is not None
        if pos < len(toks) and toks[pos] == "|":
            pos += 1
            continue
        break
    if all(kind == "atom" for kind, _v, _m in operands):
        # an all-atom alternation: a modifier on the last atom only,
        # applying to the whole alternation
        for kind, _v, mod in operands[:-1]:
            if mod is not None:
                raise ValueError(
                    "a modifier on a non-last atom of an alternation "
                    "is ambiguous in this subset — parenthesise the "
                    "atom for a per-alternative modifier: (q)+|r")
        return Atom(tuple(v for _k, v, _m in operands),
                    operands[-1][2] or "one"), pos
    steps = [Group(val, mod or "one") if kind == "group"
             else Atom((val,), mod or "one") for kind, val, mod in operands]
    # one parenthesised group is a group step; an alternation with a
    # group operand keeps each operand's own modifier
    return (steps[0] if len(steps) == 1 else Alt(tuple(steps))), pos


def _parse_seq(toks: list, pos: int) -> tuple[tuple, int]:
    steps = []
    while True:
        step, pos = _parse_unit(toks, pos)
        steps.append(step)
        if pos < len(toks) and toks[pos] == "/":
            pos += 1
            continue
        return tuple(steps), pos


def parse_path(expr: str) -> list:
    """A path expression -> match_path steps (``operators/algebra``).

    ``"<p>/<q>|<r>+/^<s>"`` parses to
    ``[Atom((p,), 'one'), Atom((q, r), 'plus'), Atom(('^' + s,), 'one')]``;
    ``"(<p>/<q>)+"`` to the group step
    ``Group((Atom((p,)), Atom((q,))), 'plus')`` (groups nest), and
    ``"(<p>/<q>)|<r>"`` to ``Alt((Group(…), Atom((r,))))``."""
    toks = _tokenize_path(expr)
    if not toks:
        raise ValueError("empty path expression")
    steps, pos = _parse_seq(toks, 0)
    if pos != len(toks):
        raise ValueError(f"trailing {toks[pos]!r} in path {expr!r} "
                         "(unbalanced ')'?)")
    return list(steps)


_KEYWORDS = {"select", "where", "optional", "filter", "union",
             "distinct", "reduced", "not", "exists", "values", "bind",
             "ask", "construct", "minus", "offset", "graph"}
_PATH_CHARS = set("/|^!+*?()")
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_PNAME = _re.compile(r"\b([A-Za-z_][\w.-]*):([A-Za-z0-9_.%-]*)")
_AS = _re.compile(r"(.+)\s+AS\s+\?(\w+)$", _re.IGNORECASE | _re.DOTALL)
_SORT_KEY = _re.compile(r"(desc|asc)?\((.*)\)", _re.IGNORECASE | _re.DOTALL)
_WORD_END = _re.compile(r"[\s{}]|\.(?=[\s{}]|\Z)")
# the member kinds a group admits, by the keyword that opens it
_GUARD = frozenset({"pattern", "path"})
_ADMITS = {
    "WHERE": _GUARD | {"filter", "optional", "graph", "minus", "exists",
                       "values", "bind", "subquery", "union"},
    "OPTIONAL": _GUARD | {"filter"},
    "UNION": _GUARD, "MINUS": _GUARD, "EXISTS": _GUARD,
    "GRAPH": frozenset({"pattern"}), "CONSTRUCT": frozenset({"pattern"}),
}


def _pred_term(tok: str) -> str:
    """A predicate-position term: the SPARQL keyword ``a`` is
    rdf:type shorthand; everything else parses normally."""
    if tok == "a":
        return _RDF_TYPE
    return parse_term(tok)


def _expand_prefixed(tok: str, prefixes: dict[str, str]) -> str:
    """Expand declared ``prefix:local`` names in one term token to
    ``<iri+local>``, outside its <…> and quoted segments (a path token
    like ``cred:a/cred:b+`` expands per name); after a segment that
    never closes, the rest of the token expands as plain text."""
    if not prefixes or tok.startswith("?") or tok[:1] == '"':
        return tok

    def names(seg: str) -> str:
        return _PNAME.sub(lambda m: (
            f"<{prefixes[m.group(1)]}{m.group(2)}>"
            if m.group(1) in prefixes else m.group(0)), seg)

    out, i, start = [], 0, 0
    while i < len(tok):
        try:
            j = _opaque_end(tok, i, _NAME)
        except ValueError:
            break
        if j > i:
            out += [names(tok[start:i]), tok[i:j]]
            start = j
        i = max(j, i + 1)
    return "".join(out) + names(tok[start:])


def _word(tok: str) -> str:
    """A query word read as a term: never ``.``, a brace or a keyword,
    ``KW(…)`` included."""
    if tok in (".", "{", "}") or tok.lower().partition("(")[0] in _KEYWORDS:
        raise ValueError(f"unexpected {tok!r} where a term belongs")
    return tok


def _term(tok: str, prefixes: dict[str, str]) -> str:
    return parse_term(_expand_prefixed(_word(tok), prefixes))


def _sparql_tokens(text: str) -> list[str]:
    """Query tokens: '{' '}' braces, the statement '.' and words, each
    a maximal run without whitespace, braces or a statement '.' outside
    the opaque segments of the TERM context (module docstring)."""
    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        if text[i].isspace():
            i += 1
            continue
        j = i
        while j < n and not _WORD_END.match(text, j):
            j = max(_opaque_end(text, j, _TERM), j + 1)
        j = max(j, i + 1)  # a brace or the statement dot stands alone
        toks.append(text[i:j])
        i = j
    return toks


def _has_path_syntax(raw_pred: str) -> bool:
    """Path punctuation outside <…> segments (an https IRI holds '/');
    a '<' that never closes reads as no path."""
    i = 0
    while i < len(raw_pred):
        try:
            j = _opaque_end(raw_pred, i, _PATH)
        except ValueError:
            return False
        if j == i and raw_pred[i] in _PATH_CHARS:
            return True
        i = max(j, i + 1)
    return False


def _expect(toks: list[str], pos: int, word: str) -> int:
    if pos >= len(toks) or toks[pos].lower() != word:
        got = toks[pos] if pos < len(toks) else "<end>"
        raise ValueError(f"expected {word.upper()!r}, got {got!r}")
    return pos + 1


def _kw_body(toks: list[str], pos: int, kw: str) -> tuple[str, int]:
    """The stripped body of ``KW(…)`` (one word) or ``KW (…)`` (two)
    at ``toks[pos]``, and the position after it."""
    if len(toks[pos]) > len(kw):
        return toks[pos][len(kw) + 1:-1].strip(), pos + 1
    if pos + 1 >= len(toks) or not toks[pos + 1].startswith("("):
        raise ValueError(f"{kw.upper()} needs '(expr)'")
    return toks[pos + 1][1:-1].strip(), pos + 2


def _member_kind(toks: list[str], pos: int) -> str:
    """The kind of the group member opening at ``toks[pos]``."""
    low = toks[pos].lower()
    nxt = toks[pos + 1].lower() if pos + 1 < len(toks) else ""
    if low in ("optional", "graph", "minus", "values"):
        return low
    if low == "filter" and nxt in ("not", "exists"):
        return "exists"
    for kw in ("bind", "filter"):
        if low == kw or low.startswith(kw + "("):
            return kw
    if low == "{":
        return ("subquery" if nxt in ("select", "ask", "construct")
                else "union")
    return "pattern"


def _parse_group(toks: list[str], pos: int, name: str,
                 prefixes: dict[str, str]) -> tuple[dict, int]:
    """The ``{ member* }`` group at ``toks[pos]``, opened by keyword
    ``name`` and admitting the member kinds ``_ADMITS[name]``: its
    members by spec key, and the position after ``}``.  A path is a
    ``Path`` entry among the patterns, a larger or filtered OPTIONAL
    group an ``OptionalGroup`` (``operators/algebra``)."""
    admits = _ADMITS[name]
    pos = _expect(toks, pos, "{")
    g: dict = {"patterns": [], "optional": [], "filters": [],
               "not_exists": [], "exists": [], "subqueries": [],
               "union": None, "binds": [], "values": []}
    while pos < len(toks) and toks[pos] != "}":
        t = toks[pos]
        if t == ".":  # a statement dot, after a member or stray
            pos += 1
            continue
        kind = _member_kind(toks, pos)
        if kind not in admits:
            what = [w for k, w in (("pattern", "triple patterns"),
                                   ("path", "paths"),
                                   ("filter", "FILTER")) if k in admits]
            raise ValueError(
                f"only {', '.join(what)} are allowed inside {name} (got "
                f"{t!r}) — nested OPTIONAL/FILTER/UNION are outside "
                "this subset")
        if kind == "pattern":
            if pos + 3 > len(toks):
                raise ValueError("truncated triple pattern")
            subj, obj = _term(t, prefixes), _term(toks[pos + 2], prefixes)
            raw = _expand_prefixed(_word(toks[pos + 1]), prefixes)
            pos += 3
            if raw.startswith("?") or not _has_path_syntax(raw):
                g["patterns"].append((subj, _pred_term(raw), obj))
            elif "path" not in admits:
                raise ValueError(
                    "a property path is not allowed here (CONSTRUCT "
                    "templates and GRAPH groups take plain triple "
                    "patterns)")
            else:
                g["patterns"].append(Path(tuple(parse_path(raw)), subj,
                                          obj))
        elif kind == "optional":
            inner, pos = _parse_group(toks, pos + 1, "OPTIONAL", prefixes)
            pats = inner["patterns"]
            if len(pats) == 1 and not inner["filters"]:
                # one member: the member itself, a plain left join
                g["optional"].append(pats[0])
            else:
                g["optional"].append(OptionalGroup(
                    tuple(p for p in pats if not isinstance(p, Path)),
                    tuple(p for p in pats if isinstance(p, Path)),
                    tuple(inner["filters"])))
        elif kind == "graph":
            pos += 1
            if pos >= len(toks) or toks[pos] == "{":
                raise ValueError(
                    "GRAPH needs a term (?var or <iri>) before its "
                    "group")
            gterm = _term(toks[pos], prefixes)
            inner, pos = _parse_group(toks, pos + 1, "GRAPH", prefixes)
            g["patterns"] += [(*p, gterm) for p in inner["patterns"]]
        elif kind == "minus":
            inner, pos = _parse_group(toks, pos + 1, "MINUS", prefixes)
            g["not_exists"] += inner["patterns"]
        elif kind == "exists":
            negated = toks[pos + 1].lower() == "not"
            pos = _expect(toks, pos + 1 + negated, "exists")
            inner, pos = _parse_group(toks, pos, "EXISTS", prefixes)
            g["not_exists" if negated else "exists"] += inner["patterns"]
        elif kind == "values":
            vars_, rows, pos = _parse_values_block(toks, pos + 1, prefixes)
            g["values"].append((vars_, rows))
        elif kind == "bind":
            body, pos = _kw_body(toks, pos, "bind")
            m = _AS.match(body)
            if not m:
                raise ValueError(
                    f"BIND needs '(expr AS ?var)': got ({body})")
            g["binds"].append((_devar(m.group(1).strip()), m.group(2)))
        elif kind == "filter":
            body, pos = _kw_body(toks, pos, "filter")
            g["filters"].append(_devar(body))
        elif kind == "subquery":
            if toks[pos + 1].lower() != "select":
                raise ValueError("subqueries must be SELECT queries "
                                 "(SPARQL 1.1 §12)")
            # the braced tokens are a whole SELECT query, its own
            # solution modifiers included
            depth, j = 1, pos + 1
            while j < len(toks) and depth:
                depth += (toks[j] == "{") - (toks[j] == "}")
                j += 1
            if depth:
                raise ValueError("unterminated '{' subquery")
            g["subqueries"].append(_parse_query(toks[pos + 1:j - 1],
                                                prefixes))
            pos = j
        else:  # union
            if g["union"] is not None:
                raise ValueError(
                    "only one UNION block per WHERE group in this "
                    "subset")
            branches = []
            while True:
                inner, pos = _parse_group(toks, pos, "UNION", prefixes)
                branches.append(inner["patterns"])
                if pos >= len(toks) or toks[pos].lower() != "union":
                    break
                pos += 1
            if len(branches) < 2:
                raise ValueError("braced group without UNION")
            g["union"] = branches
    if pos >= len(toks):
        raise ValueError(f"unterminated {name} group")
    if name != "WHERE" and not g["patterns"]:
        raise ValueError(f"empty {name} group")
    return g, pos + 1


# SPARQL 1.1 §17 built-ins with a direct Spark SQL equivalent over
# the plain-string triple model (name-for-name rewrite; arguments
# pass through unchanged).  SAMPLE -> min is a deterministic choice
# of "an arbitrary value" (documented divergence: SPARQL leaves the
# pick unspecified).
_SPARQL_FN_MAP = {
    "bound": "isnotnull", "regex": "rlike",
    "strstarts": "startswith", "strends": "endswith",
    "strlen": "length", "ucase": "upper", "lcase": "lower",
    "str": "string", "substr": "substring",
    "sameterm": "equal_null", "sample": "min",
}
# RDF-term introspection has no meaning over the realized
# plain-string triples frame — rejected loudly, never silently wrong
_SPARQL_FN_UNSUPPORTED = (
    "lang", "langmatches", "datatype", "isblank", "isliteral",
    "isnumeric", "bnode", "strdt", "strlang", "struuid",
    "encode_for_uri")


def _quote_segments(body: str):
    """Yield (segment, is_quoted) pairs — '...'/"..." literals are
    opaque to every rewrite."""
    i = start = 0
    while i < len(body):
        j = _opaque_end(body, i, _EXPR)
        if j > i:
            if start < i:
                yield body[start:i], False
            yield body[i:j], True
            start = j
        i = max(j, i + 1)
    if start < len(body):
        yield body[start:], False


def _devar(body: str) -> str:
    """Translate the SPARQL-expression subset to a Spark SQL
    expression: '?name' -> column 'name'; '&&'/'||'/prefix-'!' ->
    AND/OR/NOT; the §17 built-ins in _SPARQL_FN_MAP rename to their
    Spark equivalents (BOUND->isnotnull, REGEX->rlike,
    STRSTARTS->startswith, ...); GROUP_CONCAT(?x; SEPARATOR=s) ->
    array_join(sort_array(collect_list(x)), s) (deterministic sorted
    order — documented divergence from SPARQL's unspecified order);
    RDF-term introspection (LANG, DATATYPE, ...) rejected loudly.
    Quoted literals are opaque throughout, so FILTER(?x = "a?b") and
    separators containing '!' survive.  Everything already valid
    Spark SQL passes through unchanged — the surface accepts both."""
    # GROUP_CONCAT first: its separator is a quoted literal, so the
    # rewrite must see the whole call before quote-splitting
    def _gc(m):
        arg, sep = m.group(1).strip(), m.group(2) or "' '"
        return (f"array_join(sort_array(collect_list({arg})), {sep})")

    body = _re.sub(
        r"\bgroup_concat\s*\(\s*([^;()]+?)\s*"
        r"(?:;\s*separator\s*=\s*('[^']*'|\"[^\"]*\"))?\s*\)",
        _gc, body, flags=_re.I)
    if _re.search(r"\bgroup_concat\s*\(", body, _re.I):
        raise ValueError(
            "GROUP_CONCAT takes one plain expression and an optional "
            "SEPARATOR=<literal> in this subset")
    out = []
    for seg, quoted in _quote_segments(body):
        if quoted:
            out.append(seg)
            continue
        for bad in _SPARQL_FN_UNSUPPORTED:
            if _re.search(rf"\b{bad}\s*\(", seg, _re.I):
                raise ValueError(
                    f"SPARQL {bad.upper()}() has no equivalent over "
                    "the plain-string triple model — outside this "
                    "subset")
        seg = seg.replace("&&", " AND ").replace("||", " OR ")
        seg = _re.sub(r"!(?!=)", " NOT ", seg)
        for name, repl in _SPARQL_FN_MAP.items():
            seg = _re.sub(rf"\b{name}\s*\(", repl + "(", seg,
                          flags=_re.I)
        seg = _re.sub(r"\?(\w+)", r"\1", seg)
        out.append(seg)
    sql = "".join(out)
    # REGEX's 3-arg flags form would silently become a bad rlike call
    for m in _re.finditer(r"\brlike\s*\(", sql):
        depth, commas, j = 1, 0, m.end()
        while j < len(sql) and depth:
            k = _opaque_end(sql, j, _EXPR)  # literals are opaque
            if k == j:
                depth += (sql[j] == "(") - (sql[j] == ")")
                commas += sql[j] == "," and depth == 1
                k = j + 1
            j = k
        if commas > 1:
            raise ValueError(
                "REGEX flags (3-argument form) are outside this "
                "subset — inline them in the pattern, e.g. '(?i)...'")
    return sql


def _parse_values_term(tok: str):
    """One VALUES datum: bare ``UNDEF`` -> None (an unbound slot); a
    QUOTED ``\"UNDEF\"`` is the literal string, not the keyword
    (``parse_term`` strips the quotes)."""
    if tok.upper() == "UNDEF":
        return None
    return parse_term(tok)


def _parse_values_block(toks: list[str], pos: int,
                        prefixes: dict[str, str]):
    """SPARQL 1.1 inline data (§10.2) after the VALUES keyword:
    ``?v { datum ... }`` or ``(?v1 ?v2 ...) { (d1 d2 ...) ... }``.
    Returns ``(vars, rows, pos)`` — rows are tuples aligned with vars,
    UNDEF as None."""
    if pos >= len(toks):
        raise ValueError("VALUES needs '?var' or '(?v1 ?v2 ...)' "
                         "then '{ data }'")
    t = toks[pos]
    rows: list[tuple] = []
    if t.startswith("?") and len(t) > 1:
        vars_ = [t[1:]]
        pos = _expect(toks, pos + 1, "{")
        while pos < len(toks) and toks[pos] != "}":
            t2 = toks[pos]
            if t2.lower() in _KEYWORDS or t2.startswith("?") \
                    or t2 in ("{", "."):
                raise ValueError(
                    f"VALUES terms must be constants, got {t2!r}")
            rows.append((_parse_values_term(
                _expand_prefixed(t2, prefixes)),))
            pos += 1
    elif t.startswith("(") and t.endswith(")"):
        vars_ = []
        for nm in t[1:-1].split():
            if not nm.startswith("?") or len(nm) < 2:
                raise ValueError(
                    f"VALUES var list needs ?names, got {nm!r}")
            if nm[1:] in vars_:
                raise ValueError(f"duplicate VALUES var {nm}")
            vars_.append(nm[1:])
        if not vars_:
            raise ValueError("empty VALUES var list")
        pos = _expect(toks, pos + 1, "{")
        while pos < len(toks) and toks[pos] != "}":
            rt = toks[pos]
            if not (rt.startswith("(") and rt.endswith(")")):
                raise ValueError(
                    f"VALUES rows must be '(d1 d2 ...)', got {rt!r}")
            # the row's interior re-tokenizes with the same opaque
            # <>/\"\" segment rules as the query text
            terms = _sparql_tokens(_expand_prefixed(rt, prefixes)[1:-1])
            if len(terms) != len(vars_):
                raise ValueError(
                    f"VALUES row {rt!r} has {len(terms)} terms for "
                    f"{len(vars_)} vars")
            rows.append(tuple(_parse_values_term(x) for x in terms))
            pos += 1
    else:
        raise ValueError("VALUES needs '?var' or '(?v1 ?v2 ...)' "
                         "then '{ data }'")
    if pos >= len(toks):
        raise ValueError("unterminated VALUES block")
    if not rows:
        raise ValueError("empty VALUES block")
    return vars_, rows, pos + 1


def parse_sparql(text: str) -> dict:
    """Parse a query of the subset in the module docstring into the
    spec ``run_sparql`` executes: a dict of ``form``, ``describe``,
    ``select``, ``aggs``, ``template``, the WHERE group's members
    (``patterns``, ``optional``, ``filters``, ``not_exists``,
    ``exists``, ``subqueries``, ``union``, ``binds``, ``values``) and
    the solution modifiers (``group_by``, ``having``, ``order_by``,
    ``limit``, ``offset``)."""
    toks = _sparql_tokens(text)
    prefixes: dict[str, str] = {}
    while len(toks) >= 3 and toks[0].lower() == "prefix":
        name, iri = toks[1], toks[2]
        if not name.endswith(":") or len(name) < 2:
            raise ValueError(
                f"PREFIX needs 'name:' before the IRI, got {name!r}")
        if not (iri.startswith("<") and iri.endswith(">")):
            raise ValueError(
                f"PREFIX {name} needs a '<iri>', got {iri!r}")
        prefixes[name[:-1]] = iri[1:-1]
        toks = toks[3:]
    return _parse_query(toks, prefixes)


def _parse_query(toks: list[str], prefixes: dict[str, str]) -> dict:
    """The spec of one query's tokens (a subquery's too)."""
    if not toks:
        raise ValueError("empty query")
    form = toks[0].lower()
    spec = {"form": form, "describe": None, "select": None, "aggs": [],
            "template": None, "patterns": [], "optional": [],
            "filters": [], "not_exists": [], "exists": [],
            "subqueries": [], "union": None, "binds": [], "values": [],
            "group_by": [], "having": [], "order_by": [], "limit": None,
            "offset": None}
    pos = 1
    if form == "select":
        if pos < len(toks) and toks[pos].lower() in ("distinct",
                                                     "reduced"):
            pos += 1  # no-ops: the engine is set-semantics throughout
        select: list[str] = []
        if pos < len(toks) and toks[pos] == "*":
            pos += 1
        else:
            while pos < len(toks) and toks[pos].startswith(("?", "(")):
                t = toks[pos]
                if t.startswith("?"):
                    select.append(t[1:])
                else:
                    m = _AS.match(t[1:-1].strip())
                    if not m:
                        raise ValueError(
                            f"SELECT expression needs "
                            f"'(expr AS ?name)': {t!r}")
                    spec["aggs"].append((_devar(m.group(1).strip()),
                                         m.group(2)))
                    select.append(m.group(2))
                pos += 1
            if not select:
                raise ValueError("SELECT needs '*' or at least one "
                                 "?var")
        spec["select"] = select or None
        pos = _expect(toks, pos, "where")
    elif form == "ask":
        # SPARQL 1.1: the WHERE keyword is optional before the group
        if pos < len(toks) and toks[pos].lower() == "where":
            pos += 1
    elif form == "construct":
        template, pos = _parse_group(toks, pos, "CONSTRUCT", prefixes)
        spec["template"] = template["patterns"]
        pos = _expect(toks, pos, "where")
    elif form == "describe":
        describe: list[str] = []
        while pos < len(toks) and toks[pos].lower() != "where" \
                and toks[pos] != "{":
            describe.append(_term(toks[pos], prefixes))
            pos += 1
        if not describe:
            raise ValueError("DESCRIBE needs at least one term")
        spec["describe"] = describe
        if pos >= len(toks):
            # groupless form: DESCRIBE <iri> ... — constants only
            bad = [t for t in describe if t.startswith("?")]
            if bad:
                raise ValueError(
                    f"DESCRIBE {bad[0]} needs a WHERE group to bind "
                    "the variable")
            return spec
        if toks[pos].lower() == "where":
            pos += 1
    else:
        raise ValueError(
            f"query must start with SELECT, ASK, CONSTRUCT or "
            f"DESCRIBE (got {toks[0]!r})")
    where, pos = _parse_group(toks, pos, "WHERE", prefixes)
    spec.update(where)
    if form != "select" and pos < len(toks):
        raise ValueError(
            f"solution modifiers after an {form.upper()} group are "
            f"outside this subset: {toks[pos:]}")
    # trailing solution modifiers: GROUP BY / HAVING / ORDER BY / LIMIT
    while pos < len(toks):
        low = toks[pos].lower()
        if low == "group":
            pos = _expect(toks, pos + 1, "by")
            while pos < len(toks) and toks[pos].startswith("?"):
                spec["group_by"].append(toks[pos][1:])
                pos += 1
            if not spec["group_by"]:
                raise ValueError("GROUP BY needs at least one ?var")
        elif low == "having" or low.startswith("having("):
            body, pos = _kw_body(toks, pos, "having")
            spec["having"].append(_devar(body))
        elif low == "order":
            pos = _expect(toks, pos + 1, "by")
            keys = len(spec["order_by"])
            while pos < len(toks):
                m = _SORT_KEY.fullmatch(toks[pos])
                if toks[pos].startswith("?"):
                    spec["order_by"].append((toks[pos][1:], "asc", "var"))
                elif not m:
                    break
                else:
                    # a plain ?var stays a column reference; anything
                    # else is a Spark SQL expression over the projected
                    # vars
                    d, body = (m.group(1) or "asc").lower(), \
                        m.group(2).strip()
                    spec["order_by"].append(
                        (body[1:], d, "var")
                        if _re.fullmatch(r"\?\w+", body)
                        else (_devar(body), d, "expr"))
                pos += 1
            if keys == len(spec["order_by"]):
                raise ValueError("ORDER BY needs ?var / DESC(?var) / "
                                 "ASC(?var) / (expr)")
        elif low in ("limit", "offset"):
            pos += 1
            if pos >= len(toks) or not toks[pos].isdigit():
                raise ValueError(f"{low.upper()} needs an integer")
            spec[low] = int(toks[pos])
            pos += 1
        else:
            raise ValueError(
                f"trailing tokens after '}}': {toks[pos:]}")
    if (spec["aggs"] or spec["having"]) and not spec["group_by"]:
        # SPARQL allows implicit one-group aggregation; supported:
        # plain select vars are then forbidden (must be aggregated)
        plain = [v for v in (spec["select"] or [])
                 if v not in {a for _, a in spec["aggs"]}]
        if plain:
            raise ValueError(
                f"non-aggregated SELECT vars {plain} need GROUP BY")
    if spec["group_by"]:
        bad = [v for v in (spec["select"] or [])
               if v not in spec["group_by"]
               and v not in {a for _, a in spec["aggs"]}]
        if bad:
            raise ValueError(
                f"SELECT vars {bad} are neither GROUP BY keys nor "
                "aggregate aliases")
        if not spec["aggs"]:
            raise ValueError("GROUP BY without aggregate SELECT "
                             "expressions")
    if spec["union"] is None and not spec["patterns"] \
            and not spec["subqueries"]:
        raise ValueError("WHERE group has no patterns")
    return spec


def _apply_values(result, vars_: list[str], rows: list[tuple]):
    """Join one VALUES block into the bindings (SPARQL 1.1 §10.2).

    Vars already bound by the group are join keys; fresh vars extend
    the bindings.  An inline UNDEF is compatible with any group value
    (bound key) / stays unbound-NULL (fresh var).  Subset note,
    documented: a group-side NULL (an OPTIONAL-introduced var) is
    treated as NON-matching — strict equality, consistent with the
    single-var IN fast path — not SPARQL's unbound-compatibility.

    Plan shape: the all-bound single-var no-UNDEF case is an IN
    predicate Catalyst pushes into the pattern scans (plan-tested);
    everything else joins a BROADCAST inline-data frame (bounded by
    the query text size) — no shuffle either way."""
    from pyspark.sql import functions as F

    rows = sorted(set(rows),
                  key=lambda r: tuple((x is None, x or "") for x in r))
    bound = [v for v in vars_ if v in result.columns]
    fresh = [v for v in vars_ if v not in result.columns]
    if not fresh and len(vars_) == 1 \
            and not any(r[0] is None for r in rows):
        # IN predicate — pushed below the joins into the pattern scans
        return result.filter(
            F.col(vars_[0]).isin([r[0] for r in rows]))
    spark = result.sparkSession
    ren = {v: f"__val_{v}" for v in vars_}
    schema = ", ".join(f"{ren[v]} string" for v in vars_)
    inline = F.broadcast(spark.createDataFrame(rows, schema))
    if bound:
        cond = None
        for v in bound:
            rc = F.col(ren[v])
            e = rc.isNull() | (rc == result[v])
            cond = e if cond is None else cond & e
        joined = result.join(inline, cond, "inner")
    else:
        joined = result.crossJoin(inline)
    out = joined.select(
        *[F.col(c) for c in result.columns],
        *[F.col(ren[v]).alias(v) for v in fresh])
    # A bound var can match BOTH a concrete value row and an UNDEF row
    # (UNDEF is compatible with anything), duplicating the binding; a
    # SELECT * query runs no later projection-distinct, so dedupe here
    # to keep the engine's documented set-semantics invariant.  Only
    # pay the distinct when an UNDEF actually sits in a bound position.
    if any(r[vars_.index(v)] is None for v in bound for r in rows):
        out = out.distinct()
    return out


def run_sparql(triples, text: str):
    """Execute a SPARQL query (subset) against a triples DataFrame:
    parse_sparql -> match_bgp / match_union / match_path (seeded when
    a path endpoint is ground) -> subquery joins -> BIND/VALUES -> the
    form's result shape: SELECT projects the variables, ASK returns
    one boolean ``ask`` row (count-over-limit(1), no driver action),
    CONSTRUCT instantiates the template per binding
    (operators/rules.instantiate_template).

    Subqueries (r8, SPARQL 1.1 §12): each ``{ SELECT ... }`` member
    evaluates bottom-up via this same function, then joins the outer
    bindings on the shared projected variables (scalar aggregates
    broadcast-cross-join); outer FILTERs that reference
    subquery-projected variables apply after that join, everything
    else keeps its match_bgp placement (and pushdown).  FILTER EXISTS
    is match_bgp ``exists=`` (one left_semi per group)."""
    return _run_spec(triples, parse_sparql(text))


def _describe(triples, terms: list[str], bindings):
    """DESCRIBE output frame: the OUTGOING (subj, pred, obj) triples
    of the described nodes — constants plus the bindings of the
    described variables — via one semi join on subj (Catalyst/AQE
    broadcasts the node set when it is small, the usual DESCRIBE
    shape; a huge described set degrades to a shuffled semi join, not
    a failure)."""
    from pyspark.sql import functions as F

    consts = [t for t in terms if not t.startswith("?")]
    vars_ = [t[1:] for t in terms if t.startswith("?")]
    frames = []
    if consts:
        frames.append(triples.sparkSession.createDataFrame(
            [(c,) for c in consts], "node string"))
    for v in vars_:
        if bindings is None or v not in bindings.columns:
            raise ValueError(
                f"DESCRIBE ?{v} is not bound by the WHERE group")
        frames.append(bindings.select(F.col(v).alias("node")))
    nodes = frames[0]
    for f in frames[1:]:
        nodes = nodes.unionByName(f)
    nodes = nodes.filter(F.col("node").isNotNull()).distinct()
    return (triples.join(nodes, triples["subj"] == nodes["node"],
                         "left_semi")
            .select("subj", "pred", "obj").distinct())


def _run_spec(triples, spec: dict):
    """Execute a parsed spec (recursive entry point for subqueries)."""
    from pyspark.sql import functions as F

    from .bgp import match_bgp, match_path, match_union

    if spec["form"] == "describe" and not spec["patterns"] \
            and spec["union"] is None and not spec["subqueries"]:
        # groupless DESCRIBE <iri> ...: constants only
        return _describe(triples, spec["describe"], None)
    # a LONE path keeps the dedicated match_path route (seeded and
    # both-ground EXISTS shapes); beside other members a path joins
    # the BGP like a pattern
    lone = (len(spec["patterns"]) == 1
            and isinstance(spec["patterns"][0], Path)
            and not spec["optional"] and not spec["filters"]
            and not spec["not_exists"] and not spec["exists"]
            and not spec["subqueries"] and not spec["union"])
    # SUB-SELECTs evaluate bottom-up (SPARQL 1.1 §12) — each becomes a
    # frame whose projected vars join the outer bindings
    sub_frames = [_run_spec(triples, s) for s in spec["subqueries"]]
    sub_vars = {c for f in sub_frames for c in f.columns}
    union_var_sets = [set().union(*map(variables, pats))
                      for pats in (spec["union"] or [])]
    union_vars: set[str] = set().union(*union_var_sets)
    bgp_route = bool(spec["patterns"]) and not lone
    if bgp_route and (spec["subqueries"] or spec["union"]):
        # vars the OUTER group itself binds — filters over vars bound
        # only by a subquery / the UNION block must run after that
        # join, not inside match_bgp
        outer_vars = set().union(*map(variables, spec["patterns"]))
        outer_vars.update(a for _e, a in spec["binds"])
        only_late = (sub_vars | union_vars) - outer_vars
        # binds run INSIDE match_bgp, before the subquery / UNION
        # join, so a late-var reference cannot resolve
        for expr, alias in spec["binds"]:
            if mentions(expr, only_late):
                raise ValueError(
                    f"BIND ({expr} AS ?{alias}) references a "
                    "variable bound only by a subquery / UNION "
                    "block — outside this subset (bind it inside "
                    "that block)")
        # OPTIONAL / EXISTS guards also evaluate inside match_bgp:
        # a late var there would silently turn into a fresh
        # (existential / optional-introduced) variable instead of
        # correlating with the later join — reject loudly
        for label, group in (("OPTIONAL", spec["optional"]),
                             ("FILTER EXISTS", spec["exists"]),
                             ("FILTER NOT EXISTS / MINUS",
                              spec["not_exists"])):
            for pat in group:
                hit = [v for v in variables(pat) if v in only_late]
                if hit:
                    raise ValueError(
                        f"{label} pattern references variable(s) "
                        f"{hit} bound only by a subquery / UNION "
                        "block — outside this subset")
        inner_filters = [f for f in spec["filters"]
                         if not mentions(f, only_late)]
        deferred = [f for f in spec["filters"] if mentions(f, only_late)]
    else:
        inner_filters, deferred = spec["filters"], []
    if lone:
        p = spec["patterns"][0]
        s_var = p.subj[1:] if p.subj.startswith("?") else None
        o_var = p.obj[1:] if p.obj.startswith("?") else None
        out = match_path(triples, p.steps,
                         src=None if s_var is not None else p.subj,
                         dst=None if o_var is not None else p.obj)
        cols = []
        if s_var is not None:
            cols.append(out["src"].alias(s_var))
        if o_var is not None:
            cols.append(out["dst"].alias(o_var))
        if not cols:  # both endpoints ground: EXISTS-style 1/0 rows
            cols = [out["src"].alias("src"), out["dst"].alias("dst")]
        result = out.select(*cols).distinct()
    elif bgp_route:
        result = match_bgp(
            triples, spec["patterns"],
            optional=spec["optional"] or None,
            filters=inner_filters or None,
            not_exists=spec["not_exists"] or None,
            exists=spec["exists"] or None,
            binds=spec["binds"] or None)
    elif spec["union"] is not None:
        # UNION as the base relation (no triple patterns alongside):
        # guards/optionals need patterns, so only binds / filters /
        # subqueries can accompany it — all applied post-join
        if spec["optional"] or spec["not_exists"] or spec["exists"]:
            raise ValueError(
                "OPTIONAL / EXISTS guards need at least one triple "
                "pattern alongside the UNION block")
        result = match_union(triples, spec["union"])
    else:
        # subquery-only WHERE group: the first subquery's frame is the
        # base relation (guards/optionals need patterns, so only
        # binds/filters can accompany it — all applied post-join)
        if spec["optional"] or spec["not_exists"] or spec["exists"]:
            raise ValueError(
                "OPTIONAL / EXISTS guards need at least one triple "
                "pattern alongside the subquery")
        result = None
    for i, sub in enumerate(sub_frames):
        if result is None:
            result = sub
            continue
        shared = [c for c in sub.columns if c in result.columns]
        if shared:
            result = result.join(sub, on=shared)
        elif spec["subqueries"][i]["aggs"] \
                and not spec["subqueries"][i]["group_by"]:
            # a scalar subquery is exactly one row — broadcast the
            # cross join (e.g. compare each group to a global average)
            result = result.crossJoin(F.broadcast(sub))
        else:
            raise ValueError(
                f"subquery {i} shares no variable with the outer "
                "group and is not a scalar aggregate — the cross "
                "product is rejected (project a shared ?var or "
                "aggregate to one row)")
    if spec["union"] is not None and bgp_route:
        # UNION block joined with the other group members (r8, SPARQL
        # 1.1 §7 — `?s a T . {A} UNION {B}`): the union frame joins
        # the BGP bindings on the shared variables.  Every branch must
        # bind all shared vars (match_union NULL-pads a var a branch
        # does not bind, and an equi-join would silently drop those
        # rows instead of applying SPARQL unbound compatibility) —
        # checked statically, rejected loudly.
        uf = match_union(triples, spec["union"])
        shared = [c for c in uf.columns if c in result.columns]
        if not shared:
            raise ValueError(
                "the UNION block shares no variable with the other "
                "group members — the cross product is rejected in "
                "this subset")
        for g, gv in enumerate(union_var_sets):
            missing_v = [v for v in shared if v not in gv]
            if missing_v:
                raise ValueError(
                    f"UNION branch {g} does not bind shared "
                    f"variable(s) {missing_v} — every branch must "
                    "bind the join variables in this subset (SPARQL "
                    "unbound-compatibility corner)")
        result = result.join(uf, on=shared)
    if result is None:
        raise ValueError("WHERE group produced no relation")
    if not bgp_route:
        # lone-path / UNION-base / subquery-only WHERE: match_bgp never
        # ran, so binds then ALL filters apply here, post-join (a lone
        # path has no filters)
        for expr, alias in spec["binds"]:
            if alias in result.columns:
                raise ValueError(
                    f"BIND alias ?{alias} is already bound — SPARQL "
                    "forbids rebinding (1.1 §10.1)")
            result = result.withColumn(alias, F.expr(expr))
        for f in spec["filters"]:
            result = result.filter(F.expr(f))
    elif deferred:
        # filters over subquery-projected vars run after the join
        for f in deferred:
            result = result.filter(F.expr(f))
    for vars_, rows in spec["values"]:
        result = _apply_values(result, vars_, rows)
    if spec["form"] == "describe":
        return _describe(triples, spec["describe"], result)
    if spec["form"] == "ask":
        # one boolean row whether or not anything matched: count over
        # limit(1) — the empty-group aggregate still yields a row
        return (result.limit(1)
                .agg(F.count(F.lit(1)).alias("n"))
                .select((F.col("n") > 0).alias("ask")))
    if spec["form"] == "construct":
        from .rules import instantiate_template

        return instantiate_template(result, spec["template"])
    if spec["aggs"]:
        keys = spec["group_by"]
        missing = [v for v in keys if v not in result.columns]
        if missing:
            raise ValueError(
                f"GROUP BY vars not bound by the WHERE group: "
                f"{missing}")
        exprs = [F.expr(e).alias(a) for e, a in spec["aggs"]]
        result = (result.groupBy(*keys).agg(*exprs) if keys
                  else result.agg(*exprs))
        for h in spec["having"]:
            result = result.filter(F.expr(h))
    if spec["select"]:
        missing = [v for v in spec["select"]
                   if v not in result.columns]
        if missing:
            raise ValueError(
                f"SELECT vars not bound by the WHERE group: {missing}")
        result = result.select(*spec["select"])
        if not spec["aggs"]:
            result = result.distinct()
    if spec["order_by"]:
        missing = [v for v, _d, kind in spec["order_by"]
                   if kind == "var" and v not in result.columns]
        if missing:
            raise ValueError(f"ORDER BY vars not in result: {missing}")
        keys = []
        for payload, d, kind in spec["order_by"]:
            c = F.col(payload) if kind == "var" else F.expr(payload)
            keys.append(c.desc() if d == "desc" else c.asc())
        result = result.orderBy(*keys)
    if spec["offset"] is not None:
        # SPARQL slice: OFFSET before LIMIT, regardless of the order
        # the modifiers were written in
        result = result.offset(spec["offset"])
    if spec["limit"] is not None:
        result = result.limit(spec["limit"])
    return result
