"""Text syntax for the query layer: triple patterns and property paths.

A small, documented SPARQL-subset parser so the consumption layer
(``operators/bgp.match_bgp`` / ``match_path``) is scriptable from the
CLI (``jobs/kg_query.py``) without writing Python — the counterpart of
the reference CLI's encode/decode surface for the graph we build.

Grammar (subset, stated precisely):

* pattern  := term term term          (one line / one --pattern arg)
* term     := '?'name | '<'iri'>' | bare-token | '"'literal'"'
  — ``<>`` and quotes are stripped; everything matches string-level
  against the triples table, same semantics as match_bgp.
* path     := unit ('/' unit)*        (SEQUENCE)
* unit     := operand ('|' operand)*  (ALTERNATION; r8: operands may
  be parenthesised groups — ``(p/q)|r`` — each keeping its OWN
  trailing modifier, evaluated as the union of the alternatives'
  sub-relations)
* operand  := (atom | '(' path ')') mod?
  — a parenthesised GROUP contains a whole sub-path and may nest;
  ``mod`` is one trailing '+', '*' or '?'.  In an ALL-ATOM
  alternation the legacy r7 reading holds: only the LAST atom may
  carry a modifier and it applies to the WHOLE alternation
  (``q|r+`` == ``(q|r)+``, a documented divergence from SPARQL —
  parenthesise, ``q|(r)+``, for the per-alternative reading).
* atom     := '^'? '!'? ('<'iri'>' | bare-token)
  — '^' inverts the atom, '!' on every atom of a step makes it a
  negated property set (match_path enforces the no-mixing rule).

IRIs inside ``<>`` may contain any character except ``>`` — in
particular ``/``, so ``<https://...>/<https://...>`` tokenizes
correctly (the pre-r7 string-split parser broke on https IRIs).
Bare tokens end at whitespace or any of ``()/|+*?^!``.
"""

from __future__ import annotations

import re as _re
import shlex

_MODS = {"+": "plus", "*": "star", "?": "opt"}
_PUNCT = "()/|+*?"


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


def parse_pattern(text: str) -> tuple[str, str, str]:
    """One 'subj pred obj' line -> a match_bgp pattern triple.
    Quoted literals may contain spaces (shlex rules); a trailing '.'
    token (SPARQL statement dot) is tolerated."""
    toks = shlex.split(text)
    if toks and toks[-1] == ".":
        toks = toks[:-1]
    if len(toks) != 3:
        raise ValueError(
            f"pattern must have exactly 3 terms: {text!r}")
    return tuple(parse_term(t) for t in toks)  # type: ignore[return-value]


def _tokenize_path(expr: str) -> list:
    """Tokens: single punctuation chars from ``()/|+*?`` and
    ``('atom', value)`` pairs with the ``^``/``!`` prefix folded in.
    ``<>``-wrapped IRIs are opaque (may contain '/', '|', parens)."""
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
        if i < n and expr[i] == "<":
            k = expr.find(">", i)
            if k < 0:
                raise ValueError(f"unterminated '<' in path {expr!r}")
            atom = expr[i + 1:k]
            i = k + 1
        else:
            j = i
            while i < n and expr[i] not in _PUNCT + "^!<" \
                    and not expr[i].isspace():
                i += 1
            atom = expr[j:i]
        if not atom:
            raise ValueError(f"empty path atom in {expr!r}")
        toks.append(("atom", prefix + atom))
    return toks


def _parse_unit(toks: list, pos: int) -> tuple[tuple, int]:
    """One unit: an alternation of OPERANDS — atoms or parenthesised
    groups — each with an optional trailing modifier.

    Interpretation (documented, r8 extends the r7 subset):

    * all operands are bare atoms — legacy form: a modifier may follow
      only the LAST atom and applies to the WHOLE alternation
      (``q|r+`` == ``(q|r)+`` — a documented divergence from SPARQL's
      per-element binding; wrap an atom in parens, ``q|(r)+``, for the
      per-alternative reading).  A modifier on a NON-last atom is
      rejected with that hint.
    * any operand is a group — SPARQL form (``(p/q)|r``,
      ``(p/q)+|(r)*``): each operand keeps its OWN modifier and the
      unit is an alternation of sub-path ALTERNATIVES; a modifier for
      the whole alternation needs wrapping parens (``((p/q)|r)+``)."""
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
            pos += 1
            mod = None
            if pos < len(toks) and toks[pos] in _MODS:
                mod, pos = _MODS[toks[pos]], pos + 1
            operands.append(("group", sub, mod))
        elif isinstance(t, tuple) and t[0] == "atom":
            pos += 1
            mod = None
            if pos < len(toks) and toks[pos] in _MODS:
                mod, pos = _MODS[toks[pos]], pos + 1
            operands.append(("atom", t[1], mod))
        else:
            raise ValueError(f"unexpected {t!r} in path")
        if pos < len(toks) and toks[pos] == "|":
            pos += 1
            continue
        break
    if all(kind == "atom" for kind, _v, _m in operands):
        # legacy atom alternation: mod allowed on the last atom only,
        # applying to the whole alternation
        for kind, _v, mod in operands[:-1]:
            if mod is not None:
                raise ValueError(
                    "a modifier on a non-last atom of an alternation "
                    "is ambiguous in this subset — parenthesise the "
                    "atom for a per-alternative modifier: (q)+|r")
        alts = [v for _k, v, _m in operands]
        mod = operands[-1][2] or "one"
        return ((alts if len(alts) > 1 else alts[0]), mod), pos
    if len(operands) == 1:
        # a single parenthesised group: legacy nested-group step
        _kind, sub, mod = operands[0]
        return (sub, mod or "one"), pos
    # alternation with >=1 group operand: SPARQL per-alternative mods;
    # each alternative normalizes to a one-step steps-list whose step
    # is the operand (a nested group's steps-list, or an atom) with
    # its own modifier — evaluated as the UNION of the alternatives'
    # sub-relations (match_path `_is_alt_groups`)
    alternatives = [[(val, mod or "one")] for _k, val, mod in operands]
    return (alternatives, "one"), pos


def _parse_seq(toks: list, pos: int) -> tuple[list[tuple], int]:
    steps = []
    while True:
        step, pos = _parse_unit(toks, pos)
        steps.append(step)
        if pos < len(toks) and toks[pos] == "/":
            pos += 1
            continue
        return steps, pos


def parse_path(expr: str) -> list[tuple]:
    """A path expression -> match_path steps.

    ``"<p>/<q>|<r>+/^<s>"`` parses to
    ``[(p, 'one'), ([q, r], 'plus'), ('^' + s, 'one')]``;
    ``"(<p>/<q>)+"`` parses to the nested group step
    ``([(p, 'one'), (q, 'one')], 'plus')`` (groups nest)."""
    toks = _tokenize_path(expr)
    if not toks:
        raise ValueError("empty path expression")
    steps, pos = _parse_seq(toks, 0)
    if pos != len(toks):
        raise ValueError(f"trailing {toks[pos]!r} in path {expr!r} "
                         "(unbalanced ')'?)")
    return steps


# --- SPARQL query text syntax (r7; ASK/CONSTRUCT/BIND/VALUES r8) -----------
#
# query    := select-q | ask-q | construct-q
# query    := ('PREFIX' name ':' '<'iri'>')* (select-q | ask-q |
#              construct-q | describe-q)
#              — declared prefixed names expand token-wise to full
#              <iri>s (patterns, paths, VALUES data; quoted literals
#              and undeclared colon tokens like urn:/did: untouched;
#              prefixed names inside FILTER/BIND SQL bodies are NOT
#              expanded — use full IRIs as string literals there).
#              'a' in predicate position is rdf:type (SPARQL §4.2.4).
# select-q := 'SELECT' (('DISTINCT'|'REDUCED')? item+ | '*')
#             'WHERE' group
#             ('GROUP' 'BY' '?'var+)? ('HAVING' '(' expr ')')*
#             ('ORDER' 'BY' sort-key+)?
#             sort-key := '?'var | ('DESC'|'ASC') '(' expr ')' | '(' expr ')'
#             (r8: expr may be any Spark SQL expression over the
#              PROJECTED variables — a documented divergence from
#              SPARQL, which sorts pre-projection)
#             ('LIMIT' int)? ('OFFSET' int)?    (either order; OFFSET
#                                                applies before LIMIT,
#                                                per SPARQL slice)
# ask-q    := 'ASK' 'WHERE'? group              (one boolean `ask` row)
# construct-q := 'CONSTRUCT' '{' pattern+ '}' 'WHERE' group
#             (template instantiated per binding; NULL-containing
#              instantiations dropped, per CONSTRUCT semantics)
# item     := '?'var | '(' agg-expr 'AS' '?'name ')'
#             (agg-expr: a Spark SQL aggregate over ?vars, e.g.
#              COUNT(DISTINCT ?c); plain select vars must be GROUP BY
#              keys when aggregates are present)
# group    := '{' member* '}'
# member   := pattern '.'?                      (triple pattern)
#           | 'OPTIONAL' group                  (patterns, paths and
#                                                FILTERs inside; a
#                                                multi-member group is
#                                                a SPARQL §18.5
#                                                LeftJoin UNIT — the
#                                                whole group binds or
#                                                nothing does; group
#                                                FILTERs are over
#                                                group-local vars only;
#                                                nested OPTIONAL/UNION
#                                                rejected)
#           | 'FILTER' '(' sql-expr ')'         (SQL boolean expr over vars)
#           | 'FILTER' 'NOT' 'EXISTS' group     (patterns only inside)
#           | 'FILTER' 'EXISTS' group           (r8: the positive twin —
#                                                keep bindings the group
#                                                matches; one left_semi;
#                                                same connectedness rule)
#           | '{' select-q '}'                  (r8 SUB-SELECT, SPARQL 1.1
#                                                §12: evaluated bottom-up,
#                                                projected vars join the
#                                                outer bindings on the
#                                                shared variables; a
#                                                subquery sharing NO var
#                                                must be a SCALAR
#                                                aggregate — one row,
#                                                broadcast cross join —
#                                                anything else is
#                                                rejected loudly)
#           | 'MINUS' group                     (r8: the CONNECTED case,
#                                                where SPARQL MINUS and
#                                                FILTER NOT EXISTS
#                                                coincide — same
#                                                left_anti; a MINUS
#                                                group sharing no
#                                                variable is rejected
#                                                loudly, never silently
#                                                wrong)
#           | 'BIND' '(' sql-expr 'AS' '?'v ')' (computed column over
#                                                the bindings; ?v must
#                                                be FRESH; later FILTERs
#                                                and BINDs may use it)
#           | 'GRAPH' ('?'var|term) group       (r8, SPARQL §13.3: the
#                                                group's patterns become
#                                                QUADS over the NAMED
#                                                graphs — a var binds
#                                                the graph label shared
#                                                across the group
#                                                (co-location), a
#                                                constant filters on
#                                                it; '' = default
#                                                graph, excluded;
#                                                patterns-only inside)
#           | 'VALUES' values-block
#           | group ('UNION' group)+            (r8: composes with the
#                                                other members — the
#                                                union frame joins the
#                                                BGP bindings on the
#                                                shared vars, every
#                                                branch must bind them;
#                                                alone it is the base
#                                                relation; one UNION
#                                                block per group; each
#                                                branch patterns-only)
# values-block := '?'var '{' (term|'UNDEF')+ '}'
#           | '(' '?'var+ ')' '{' row+ '}'      (row := '('
#                                                (term|'UNDEF')+ ')')
#             — SPARQL 1.1 inline data (§10.2): vars already bound by
#             the group are JOIN keys (UNDEF compatible with any
#             value); fresh vars introduce new bindings (UNDEF ->
#             unbound/NULL).  The single-var all-bound no-UNDEF case
#             compiles to an IN predicate pushed to the pattern scans;
#             every other case joins a broadcast inline-data frame.
# A pattern whose predicate uses path syntax (/ | ^ ! + * ? or
# parens) is a PROPERTY PATH: alone it routes to match_path; mixed
# with other top-level members it joins into the BGP like a pattern
# (match_bgp `paths=`) — either way a ground subject/object runs the
# SEEDED tier.  Paths are also accepted inside OPTIONAL / FILTER
# [NOT] EXISTS / MINUS / UNION groups (r8).  Set semantics throughout
# (match_bgp's distinct) — bag semantics is not implemented, so
# DISTINCT and REDUCED are accepted no-ops and a plain SELECT also
# dedupes (documented divergence).  Keywords case-insensitive; FILTER
# / BIND / HAVING / ORDER BY / (AGG AS ?v) bodies accept the SPARQL
# 1.1 §17 expression subset — '&&'/'||'/prefix-'!', BOUND, REGEX
# (2-arg), STRSTARTS/STRENDS/CONTAINS, STRLEN, UCASE/LCASE, STR,
# SUBSTR, sameTerm, GROUP_CONCAT(..; SEPARATOR=..) (deterministic
# sorted order), SAMPLE (deterministic min) — translated name-for-name
# to Spark SQL (see _devar), so plain Spark SQL also passes through
# verbatim; RDF-term introspection (LANG, DATATYPE, isBLANK, ...)
# is rejected loudly.  BINDs
# apply after the required patterns/paths join (in member order, each
# seeing earlier BINDs) and before FILTERs — a BIND over an
# OPTIONAL-introduced variable is outside this subset; VALUES joins
# apply after the whole group (SPARQL's trailing/query-level VALUES
# position).

_KEYWORDS = {"select", "where", "optional", "filter", "union",
             "distinct", "reduced", "not", "exists", "values", "bind",
             "ask", "construct", "minus", "offset", "graph"}
_PATH_CHARS = set("/|^!+*?()")


_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _pred_term(tok: str) -> str:
    """A predicate-position term: the SPARQL keyword ``a`` is
    rdf:type shorthand; everything else parses normally."""
    if tok == "a":
        return _RDF_TYPE
    return parse_term(tok)


def _expand_prefixed(tok: str, prefixes: dict[str, str]) -> str:
    """Expand DECLARED ``prefix:local`` names inside one token to
    ``<iri+local>`` — quoted literals and <>-wrapped IRIs inside the
    token are opaque (a path token like ``cred:a/cred:b+`` expands
    per-name).  Only names whose prefix was declared expand, so bare
    tokens with ':' (urn:..., did:...) pass through untouched."""
    if tok.startswith("?") or (len(tok) >= 2 and tok[0] == '"'):
        return tok
    out = []
    i, n, start = 0, len(tok), 0

    def _flush(seg: str) -> str:
        return _re.sub(
            r"\b([A-Za-z_][\w.-]*):([A-Za-z0-9_.%-]*)",
            lambda m: (f"<{prefixes[m.group(1)]}{m.group(2)}>"
                       if m.group(1) in prefixes else m.group(0)),
            seg)

    while i < n:
        c = tok[i]
        if c == "<":
            j = tok.find(">", i)
            if j < 0:
                break
            out.append(_flush(tok[start:i]))
            out.append(tok[i:j + 1])
            i = j + 1
            start = i
        elif c in "\"'":
            j = tok.find(c, i + 1)
            if j < 0:
                break
            out.append(_flush(tok[start:i]))
            out.append(tok[i:j + 1])
            i = j + 1
            start = i
        else:
            i += 1
    out.append(_flush(tok[start:]))
    return "".join(out)


_IRIREF = _re.compile(r"<[^<>\"{}|^`\\()\x00-\x20]*>")


def _sparql_tokens(text: str) -> list[str]:
    """Tokens: '{' '}' braces, the statement '.' (whitespace- or
    brace-delimited), and WORDS — maximal non-space runs where
    ``<...>``, ``(...)`` (balanced, spaces allowed inside) and
    ``"..."`` are opaque segments, so ``<p>+/<q>`` and
    ``(cast(a as int) >= 50)`` each stay one token."""
    toks: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c.isspace():
            i += 1
            continue
        if c in "{}":
            toks.append(c)
            i += 1
            continue
        if c == "." and (i + 1 == n or text[i + 1].isspace()
                         or text[i + 1] in "{}"):
            toks.append(".")
            i += 1
            continue
        j = i
        while j < n and not text[j].isspace() and text[j] not in "{}":
            if text[j] == "<":
                k = text.find(">", j)
                if k < 0:
                    raise ValueError(
                        f"unterminated '<' in query at {j}")
                j = k + 1
            elif text[j] == "(":
                # quoted strings inside the parens are opaque — a
                # paren INSIDE a literal (FILTER(?name = "a(b")) must
                # not count toward the depth (ADVICE r7); BOTH quote
                # characters, matching _quote_segments/_devar (a
                # single-quoted SQL literal containing ')' previously
                # mis-tokenized)
                depth, k = 1, j + 1
                while k < n and depth:
                    if text[k] == "<":
                        # an IRI is opaque too, before quotes: an
                        # apostrophe is legal in one (<urn:o'brien>).
                        # Parens end the match, so '<' as less-than
                        # never changes the depth count
                        m = _IRIREF.match(text, k)
                        if m:
                            k = m.end()
                            continue
                    if text[k] in "\"'":
                        q = text.find(text[k], k + 1)
                        if q < 0:
                            raise ValueError(
                                f"unterminated {text[k]!r} in query "
                                f"at {k}")
                        k = q + 1
                        continue
                    if text[k] == "(":
                        depth += 1
                    elif text[k] == ")":
                        depth -= 1
                    k += 1
                if depth:
                    raise ValueError(
                        f"unbalanced '(' in query at {j}")
                j = k
            elif text[j] == '"':
                k = text.find('"', j + 1)
                if k < 0:
                    raise ValueError(
                        f"unterminated '\"' in query at {j}")
                j = k + 1
            elif text[j] == "." and (j + 1 == n
                                     or text[j + 1].isspace()
                                     or text[j + 1] in "{}"):
                break  # statement dot terminates the word
            else:
                j += 1
        toks.append(text[i:j])
        i = j
    return toks


def _has_path_syntax(raw_pred: str) -> bool:
    """Path punctuation OUTSIDE <>-wrapped IRI segments (an https IRI
    contains '/' INSIDE the brackets — that is not a path)."""
    i, n = 0, len(raw_pred)
    while i < n:
        if raw_pred[i] == "<":
            k = raw_pred.find(">", i)
            if k < 0:
                return False
            i = k + 1
        elif raw_pred[i] in _PATH_CHARS:
            return True
        else:
            i += 1
    return False


def _expect(toks: list[str], pos: int, word: str) -> int:
    if pos >= len(toks) or toks[pos].lower() != word:
        got = toks[pos] if pos < len(toks) else "<end>"
        raise ValueError(f"expected {word.upper()!r}, got {got!r}")
    return pos + 1


def _parse_plain_group(toks: list[str], pos: int,
                       allow_paths: bool = False) -> tuple[list, int]:
    """A '{ pattern . pattern }' group containing ONLY triple
    patterns (used inside OPTIONAL / NOT EXISTS / UNION).  With
    ``allow_paths`` (OPTIONAL groups, r8) a property-path predicate
    becomes a ``("__path__", raw, subj, obj)`` entry for the caller
    to route."""
    pos = _expect(toks, pos, "{")
    pats = []
    while pos < len(toks) and toks[pos] != "}":
        # FILTER(...)/BIND(...) arrive as ONE word token ('(' is an
        # opaque segment) — check the prefix before '(' too
        if toks[pos].lower().split("(", 1)[0] in _KEYWORDS \
                or toks[pos] == "{":
            raise ValueError(
                f"only triple patterns are allowed inside this group "
                f"(got {toks[pos]!r}) — nested OPTIONAL/FILTER/UNION "
                "are outside this subset")
        if pos + 3 > len(toks):
            raise ValueError("truncated triple pattern")
        raw_pred = toks[pos + 1]
        if not raw_pred.startswith("?") and _has_path_syntax(raw_pred):
            if not allow_paths:
                raise ValueError(
                    "a property path is not allowed here (CONSTRUCT "
                    "templates and GRAPH groups take plain triple "
                    "patterns)")
            pats.append(("__path__", raw_pred,
                         parse_term(toks[pos]),
                         parse_term(toks[pos + 2])))
        else:
            pats.append((parse_term(toks[pos]),
                         _pred_term(raw_pred),
                         parse_term(toks[pos + 2])))
        pos += 3
        if pos < len(toks) and toks[pos] == ".":
            pos += 1
    if pos >= len(toks):
        raise ValueError("unterminated '{' group")
    if not pats:
        raise ValueError("empty group")
    return pats, pos + 1


def _parse_optional_group(toks: list[str], pos: int) -> tuple[dict, int]:
    """An OPTIONAL group body (r8): triple patterns, property paths,
    and FILTER(...) clauses — parsed into
    ``{"patterns": [...], "paths": [raw...], "filters": [...]}``.
    FILTERs inside the group evaluate over the GROUP's variables
    before the left join (SPARQL LeftJoin's embedded filter for the
    group-local case; a filter needing OUTER variables is outside
    this subset and match_bgp rejects it loudly)."""
    pos = _expect(toks, pos, "{")
    g: dict = {"patterns": [], "paths": [], "filters": []}
    while pos < len(toks) and toks[pos] != "}":
        t = toks[pos]
        low = t.lower()
        if t == ".":
            pos += 1
            continue
        if low.startswith("filter(") and t.endswith(")"):
            g["filters"].append(_devar(t[len("filter"):][1:-1].strip()))
            pos += 1
            continue
        if low == "filter":
            pos += 1
            if pos >= len(toks) or not toks[pos].startswith("("):
                raise ValueError(
                    "FILTER inside OPTIONAL needs '(expr)' (EXISTS "
                    "guards inside OPTIONAL are outside this subset)")
            g["filters"].append(_devar(toks[pos][1:-1].strip()))
            pos += 1
            continue
        if low.split("(", 1)[0] in _KEYWORDS or t == "{":
            raise ValueError(
                f"only triple patterns, paths and FILTER are allowed "
                f"inside OPTIONAL (got {t!r}) — nested OPTIONAL/UNION "
                "are outside this subset")
        if pos + 3 > len(toks):
            raise ValueError("truncated triple pattern")
        raw_pred = toks[pos + 1]
        if not raw_pred.startswith("?") and _has_path_syntax(raw_pred):
            g["paths"].append((raw_pred, parse_term(toks[pos]),
                               parse_term(toks[pos + 2])))
        else:
            g["patterns"].append((parse_term(toks[pos]),
                                  _pred_term(raw_pred),
                                  parse_term(toks[pos + 2])))
        pos += 3
    if pos >= len(toks):
        raise ValueError("unterminated '{' group")
    if not g["patterns"] and not g["paths"]:
        raise ValueError("empty OPTIONAL group")
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
    i, n, start = 0, len(body), 0
    while i < n:
        c = body[i]
        if c in "\"'":
            j = body.find(c, i + 1)
            if j < 0:
                raise ValueError(f"unterminated {c} in expression "
                                 f"{body!r}")
            if start < i:
                yield body[start:i], False
            yield body[i:j + 1], True
            i = j + 1
            start = i
        else:
            i += 1
    if start < n:
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
            if sql[j] in "\"'":
                j = sql.index(sql[j], j + 1)  # literals are opaque
            elif sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            elif sql[j] == "," and depth == 1:
                commas += 1
            j += 1
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


def _parse_values_block(toks: list[str], pos: int):
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
            rows.append((_parse_values_term(t2),))
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
            terms = _sparql_tokens(rt[1:-1])
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
    """Parse a SPARQL query (subset above) into an execution spec:
    ``{"form", "select", "aggs", "template", "patterns", "optional",
    "filters", "not_exists", "binds", "values", "union", "path",
    "group_by", "having", "order_by", "limit"}`` — consumed by
    ``run_sparql``.

    Forms (r8): ``form`` is ``"select"``, ``"ask"`` (boolean
    existence) or ``"construct"`` (``template`` holds the triple
    patterns to instantiate per binding).

    Aggregation (r7): SELECT items may be ``(AGG_EXPR AS ?name)``
    (COUNT/SUM/MIN/MAX/AVG etc. — the body is a Spark SQL aggregate
    expression with ?vars rewritten to column names), combined with
    trailing ``GROUP BY ?v ...``, ``HAVING(expr)``, ``ORDER BY
    ?v | DESC(?v) ...`` and ``LIMIT n`` after the WHERE group."""
    toks = _sparql_tokens(text)
    # PREFIX declarations (r8): consumed up front, then every
    # declared prefixed name expands token-wise to its full <iri>
    # (quoted literals / already-wrapped IRIs opaque — undeclared
    # colon tokens like urn:/did: pass through)
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
    if prefixes:
        # FILTER/BIND/HAVING bodies, ORDER BY '(expr)' sort keys and
        # SELECT '(AGG AS ?v)' items are SQL expressions, not term
        # positions: the grammar documents prefixed names there as NOT
        # expanded, and an expanded '<iri>' inside an expression body
        # would only surface later as an opaque AnalysisException — so
        # leave those tokens (and a '(...)' token right after the bare
        # keyword) untouched
        _expr_kw = ("filter", "bind", "having")
        _sort_kw = ("desc(", "asc(")
        expanded, skip_next = [], False
        in_select = in_order = False
        for t in toks:
            low = t.lower()
            if low == "select":
                in_select = True
            elif low in ("where", "{"):
                in_select = False
            if in_order and low != "by" and not t.startswith(("?", "(")) \
                    and not low.startswith(_sort_kw):
                in_order = False
            if low == "order":
                in_order = True
            if skip_next and t.startswith("("):
                expanded.append(t)
                skip_next = False
                continue
            skip_next = low in _expr_kw
            if any(low.startswith(k + "(") for k in _expr_kw) \
                    or ((in_select or in_order) and t.startswith("(")) \
                    or (in_order and low.startswith(_sort_kw)):
                expanded.append(t)
            else:
                expanded.append(_expand_prefixed(t, prefixes))
        toks = expanded
    if not toks:
        raise ValueError("empty query")
    form = toks[0].lower()
    select: list[str] = []
    aggs: list[tuple[str, str]] = []  # (sql_expr, alias)
    template: list[tuple[str, str, str]] | None = None
    if form == "select":
        pos = 1
        if pos < len(toks) and toks[pos].lower() in ("distinct",
                                                     "reduced"):
            # accepted no-ops: the engine is set-semantics throughout
            # (a plain SELECT also dedupes — documented divergence
            # from SPARQL bag semantics), and REDUCED merely PERMITS
            # deduplication
            pos += 1
        if pos < len(toks) and toks[pos] == "*":
            pos += 1
        else:
            while pos < len(toks):
                t = toks[pos]
                if t.startswith("?"):
                    select.append(t[1:])
                    pos += 1
                elif t.startswith("("):
                    body = t[1:-1].strip()
                    m = _re.match(r"(.+)\s+AS\s+\?(\w+)$", body,
                                  _re.IGNORECASE | _re.DOTALL)
                    if not m:
                        raise ValueError(
                            f"SELECT expression needs "
                            f"'(expr AS ?name)': {t!r}")
                    aggs.append((_devar(m.group(1).strip()),
                                 m.group(2)))
                    select.append(m.group(2))
                    pos += 1
                else:
                    break
            if not select:
                raise ValueError("SELECT needs '*' or at least one "
                                 "?var")
        pos = _expect(toks, pos, "where")
    elif form == "ask":
        # SPARQL 1.1: the WHERE keyword is optional before the group
        pos = 2 if (len(toks) > 1
                    and toks[1].lower() == "where") else 1
    elif form == "construct":
        template, pos = _parse_plain_group(toks, 1)
        pos = _expect(toks, pos, "where")
    elif form == "describe":
        # SPARQL §16.4 — the description form is implementation-
        # defined; this engine emits the nodes' OUTGOING triples
        # (subj, pred, obj), one hop, no blank-node closure
        describe: list[str] = []
        pos = 1
        while pos < len(toks) and toks[pos].lower() != "where" \
                and toks[pos] != "{":
            describe.append(parse_term(toks[pos]))
            pos += 1
        if not describe:
            raise ValueError("DESCRIBE needs at least one term")
        if pos >= len(toks):
            # groupless form: DESCRIBE <iri> ... — constants only
            bad = [t for t in describe if t.startswith("?")]
            if bad:
                raise ValueError(
                    f"DESCRIBE {bad[0]} needs a WHERE group to bind "
                    "the variable")
            return {"form": form, "describe": describe,
                    "select": None, "aggs": [], "template": None,
                    "patterns": [], "optional": [], "filters": [],
                    "not_exists": [], "exists": [], "subqueries": [],
                    "union": None, "path": None, "path_patterns": [],
                    "binds": [], "values": [], "group_by": [],
                    "having": [], "order_by": [], "limit": None,
                    "offset": None}
        if toks[pos].lower() == "where":
            pos += 1
    else:
        raise ValueError(
            f"query must start with SELECT, ASK, CONSTRUCT or "
            f"DESCRIBE (got {toks[0]!r})")
    pos = _expect(toks, pos, "{")
    spec = {"form": form,
            "describe": describe if form == "describe" else None,
            "select": select or None, "aggs": aggs,
            "template": template, "patterns": [],
            "optional": [], "filters": [], "not_exists": [],
            "exists": [], "subqueries": [],
            "union": None, "path": None, "path_patterns": [],
            "binds": [], "values": [], "group_by": [],
            "having": [], "order_by": [], "limit": None,
            "offset": None}
    while pos < len(toks) and toks[pos] != "}":
        t = toks[pos]
        low = t.lower()
        if t == ".":
            # SPARQL tolerates a statement dot after any group member
            pos += 1
            continue
        if low == "optional":
            g, pos = _parse_optional_group(toks, pos + 1)
            if len(g["patterns"]) + len(g["paths"]) == 1 \
                    and not g["filters"]:
                # single-member group: keep the flat entry (identical
                # plan shape to pre-r8 queries)
                if g["patterns"]:
                    spec["optional"].extend(g["patterns"])
                else:
                    raw, s, o = g["paths"][0]
                    spec["optional"].append(("__path__", raw, s, o))
            else:
                # multi-member / filtered group: SPARQL LeftJoin UNIT
                # semantics — the whole group matches or the whole
                # group is unbound (match_bgp "__group__" entries)
                spec["optional"].append(("__group__", g))
        elif low == "graph":
            # SPARQL §13.3: GRAPH term { patterns } — each pattern in
            # the group becomes a QUAD over the named graphs; a
            # variable term binds the graph label (shared across the
            # group's patterns, so they co-locate in one graph), a
            # constant filters on it
            pos += 1
            if pos >= len(toks) or toks[pos] == "{":
                raise ValueError(
                    "GRAPH needs a term (?var or <iri>) before its "
                    "group")
            gterm = parse_term(toks[pos])
            pats, pos = _parse_plain_group(toks, pos + 1)
            spec["patterns"].extend((*p, gterm) for p in pats)
        elif low == "minus":
            # the connected case, where MINUS == FILTER NOT EXISTS
            # (match_bgp rejects a disconnected group loudly)
            pats, pos = _parse_plain_group(toks, pos + 1,
                                           allow_paths=True)
            spec["not_exists"].extend(pats)
        elif low == "values":
            vars_, rows, pos = _parse_values_block(toks, pos + 1)
            spec["values"].append((vars_, rows))
        elif low == "bind" or low.startswith("bind("):
            # BIND(expr AS ?v) — '(' is an opaque tokenizer segment,
            # so the whole clause may be one word token (like FILTER)
            if low == "bind":
                pos += 1
                if pos >= len(toks) or not toks[pos].startswith("("):
                    raise ValueError("BIND needs '(expr AS ?var)'")
                body = toks[pos][1:-1].strip()
                pos += 1
            else:
                body = t[len("bind"):][1:-1].strip()
                pos += 1
            m = _re.match(r"(.+)\s+AS\s+\?(\w+)$", body,
                          _re.IGNORECASE | _re.DOTALL)
            if not m:
                raise ValueError(
                    f"BIND needs '(expr AS ?var)': got ({body})")
            spec["binds"].append((_devar(m.group(1).strip()),
                                  m.group(2)))
        elif low.startswith("filter("):
            # no space between FILTER and '(' — one word token
            spec["filters"].append(
                _devar(t[len("filter"):][1:-1].strip()))
            pos += 1
        elif low == "filter":
            pos += 1
            if pos < len(toks) and toks[pos].lower() == "not":
                pos = _expect(toks, pos + 1, "exists")
                pats, pos = _parse_plain_group(toks, pos,
                                               allow_paths=True)
                spec["not_exists"].extend(pats)
            elif pos < len(toks) and toks[pos].lower() == "exists":
                pats, pos = _parse_plain_group(toks, pos + 1,
                                               allow_paths=True)
                spec["exists"].extend(pats)
            elif pos < len(toks) and toks[pos].startswith("("):
                spec["filters"].append(
                    _devar(toks[pos][1:-1].strip()))
                pos += 1
            else:
                raise ValueError("FILTER needs '(expr)' or NOT EXISTS")
        elif t == "{" and pos + 1 < len(toks) \
                and toks[pos + 1].lower() in ("select", "ask",
                                              "construct"):
            if toks[pos + 1].lower() != "select":
                raise ValueError("subqueries must be SELECT queries "
                                 "(SPARQL 1.1 §12)")
            # SUB-SELECT (SPARQL 1.1 §12): the braced tokens are a
            # complete SELECT query (incl. its own trailing GROUP
            # BY/HAVING/ORDER BY/LIMIT inside the braces) — re-parse
            # recursively.  Tokens round-trip through ' '.join because
            # <>/(...)/"..." segments are opaque single tokens.
            depth, j = 1, pos + 1
            while j < len(toks) and depth:
                if toks[j] == "{":
                    depth += 1
                elif toks[j] == "}":
                    depth -= 1
                j += 1
            if depth:
                raise ValueError("unterminated '{' subquery")
            sub = parse_sparql(" ".join(toks[pos + 1:j - 1]))
            if sub["form"] != "select":
                raise ValueError("subqueries must be SELECT queries")
            spec["subqueries"].append(sub)
            pos = j
        elif t == "{":
            if spec["union"] is not None:
                raise ValueError(
                    "only one UNION block per WHERE group in this "
                    "subset")
            groups = []
            pats, pos = _parse_plain_group(toks, pos,
                                           allow_paths=True)
            groups.append(pats)
            while pos < len(toks) and toks[pos].lower() == "union":
                pats, pos = _parse_plain_group(toks, pos + 1,
                                               allow_paths=True)
                groups.append(pats)
            if len(groups) < 2:
                raise ValueError("braced group without UNION")
            spec["union"] = groups
        elif low in _KEYWORDS:
            raise ValueError(f"unexpected keyword {t!r} in group")
        else:
            if pos + 3 > len(toks):
                raise ValueError("truncated triple pattern")
            raw_pred = toks[pos + 1]
            subj, obj = parse_term(toks[pos]), parse_term(toks[pos + 2])
            pred = _pred_term(raw_pred)
            pos += 3
            if pos < len(toks) and toks[pos] == ".":
                pos += 1
            if not raw_pred.startswith("?") and \
                    _has_path_syntax(raw_pred):
                spec["patterns"].append(("__path__", raw_pred,
                                         subj, obj))
            else:
                spec["patterns"].append((subj, pred, obj))
    if pos >= len(toks):
        raise ValueError("unterminated WHERE group")
    pos += 1  # past '}'
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
        elif low.startswith("having(") or low == "having":
            if low == "having":
                pos += 1
                if pos >= len(toks) or not toks[pos].startswith("("):
                    raise ValueError("HAVING needs '(expr)'")
                body = toks[pos][1:-1]
                pos += 1
            else:
                body = toks[pos][len("having"):][1:-1]
                pos += 1
            spec["having"].append(_devar(body.strip()))
        elif low == "order":
            pos = _expect(toks, pos + 1, "by")
            got = False

            def _sort_key(body: str, d: str):
                # a plain ?var stays a column reference; anything else
                # is a Spark SQL expression over the PROJECTED vars
                # (r8 — documented divergence: SPARQL sorts
                # pre-projection)
                body = body.strip()
                if _re.fullmatch(r"\?\w+", body):
                    return (body[1:], d, "var")
                return (_devar(body), d, "expr")

            while pos < len(toks):
                t = toks[pos]
                tl = t.lower()
                if t.startswith("?"):
                    spec["order_by"].append((t[1:], "asc", "var"))
                elif tl.startswith("desc(") and t.endswith(")"):
                    spec["order_by"].append(_sort_key(t[5:-1], "desc"))
                elif tl.startswith("asc(") and t.endswith(")"):
                    spec["order_by"].append(_sort_key(t[4:-1], "asc"))
                elif t.startswith("(") and t.endswith(")"):
                    spec["order_by"].append(
                        _sort_key(t[1:-1], "asc"))
                else:
                    break
                got = True
                pos += 1
            if not got:
                raise ValueError("ORDER BY needs ?var / DESC(?var) / "
                                 "ASC(?var) / (expr)")
        elif low == "limit":
            pos += 1
            if pos >= len(toks) or not toks[pos].isdigit():
                raise ValueError("LIMIT needs an integer")
            spec["limit"] = int(toks[pos])
            pos += 1
        elif low == "offset":
            pos += 1
            if pos >= len(toks) or not toks[pos].isdigit():
                raise ValueError("OFFSET needs an integer")
            spec["offset"] = int(toks[pos])
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
    # path-pattern routing: a LONE path keeps the dedicated
    # match_path route (seeded + both-ground EXISTS shape); paths
    # mixed with other members become match_bgp `paths=` entries (r7)
    paths = [p for p in spec["patterns"] if p[0] == "__path__"]
    if paths:
        plain = [p for p in spec["patterns"] if p[0] != "__path__"]
        lone = (len(spec["patterns"]) == 1 and not spec["optional"]
                and not spec["filters"] and not spec["not_exists"]
                and not spec["exists"] and not spec["subqueries"]
                and not spec["union"])
        if lone:
            _tag, raw_pred, subj, obj = paths[0]
            spec["patterns"] = []
            spec["path"] = {
                "steps": parse_path(raw_pred),
                "subj": subj, "obj": obj,
            }
        else:
            spec["patterns"] = plain
            spec["path_patterns"] = [
                (parse_path(raw), subj, obj)
                for _tag, raw, subj, obj in paths]
    if spec["union"] is None and spec["path"] is None \
            and not spec["patterns"] and not spec["path_patterns"] \
            and not spec["subqueries"]:
        raise ValueError("WHERE group has no patterns")
    # paths inside OPTIONAL / guards / UNION branches (r8): parse the
    # raw step string here so the executors receive
    # ("__path__", steps, subj, obj) entries
    def _conv_path(p):
        if p and p[0] == "__path__":
            return ("__path__", parse_path(p[1]), p[2], p[3])
        if p and p[0] == "__group__":
            return ("__group__", dict(
                p[1], paths=[(parse_path(raw), s, o)
                             for raw, s, o in p[1]["paths"]]))
        return p

    for key in ("optional", "exists", "not_exists"):
        spec[key] = [_conv_path(p) for p in spec[key]]
    if spec["union"] is not None:
        spec["union"] = [[_conv_path(p) for p in g]
                         for g in spec["union"]]
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
    from pyspark.sql import functions as F

    from .bgp import match_bgp, match_path, match_union

    spec = parse_sparql(text)
    return _run_spec(triples, spec)


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


def _entry_vars(pat) -> set[str]:
    """Variable names a group-member entry binds/references — plain
    patterns and quads, ("__path__", steps, s, o) entries, and
    ("__group__", {...}) OPTIONAL groups."""
    if pat and pat[0] == "__group__":
        out: set[str] = set()
        for pp in pat[1]["patterns"]:
            out.update(t[1:] for t in pp
                       if isinstance(t, str) and t.startswith("?"))
        for _steps, s, o in pat[1]["paths"]:
            out.update(t[1:] for t in (s, o) if t.startswith("?"))
        return out
    return {t[1:] for t in pat
            if isinstance(t, str) and t.startswith("?")}


def _run_spec(triples, spec: dict):
    """Execute a parsed spec (recursive entry point for subqueries)."""
    from pyspark.sql import functions as F

    from .bgp import match_bgp, match_path, match_union

    # SUB-SELECTs evaluate bottom-up (SPARQL 1.1 §12) — each becomes a
    # frame whose projected vars join the outer bindings
    if spec["form"] == "describe" and not spec["patterns"] \
            and not spec["path_patterns"] and spec["union"] is None \
            and spec["path"] is None and not spec["subqueries"]:
        # groupless DESCRIBE <iri> ...: constants only
        return _describe(triples, spec["describe"], None)
    sub_frames = [_run_spec(triples, s) for s in spec["subqueries"]]
    sub_vars: set[str] = set()
    for f in sub_frames:
        sub_vars.update(f.columns)
    union_var_sets: list[set[str]] = [
        {t[1:] for pat in pats for t in pat
         if isinstance(t, str) and t.startswith("?")}
        for pats in (spec["union"] or [])]
    union_vars: set[str] = set().union(*union_var_sets) \
        if union_var_sets else set()
    bgp_route = bool(spec["patterns"] or spec["path_patterns"])
    if bgp_route and (spec["subqueries"] or spec["union"]):
        # vars the OUTER group itself binds — filters over vars bound
        # only by a subquery / the UNION block must run after that
        # join, not inside match_bgp
        outer_vars: set[str] = set()
        for p in spec["patterns"]:
            outer_vars.update(t[1:] for t in p
                              if isinstance(t, str) and
                              t.startswith("?"))
        for _steps, s, o in spec["path_patterns"]:
            outer_vars.update(t[1:] for t in (s, o)
                              if t.startswith("?"))
        outer_vars.update(a for _e, a in spec["binds"])
        only_late = (sub_vars | union_vars) - outer_vars

        def _refs_late(body: str) -> bool:
            return any(_re.search(rf"\b{_re.escape(v)}\b", body)
                       for v in only_late)

        # binds run INSIDE match_bgp, before the subquery / UNION
        # join, so a late-var reference cannot resolve
        for expr, alias in spec["binds"]:
            if _refs_late(expr):
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
                hit = [v for v in _entry_vars(pat) if v in only_late]
                if hit:
                    raise ValueError(
                        f"{label} pattern references variable(s) "
                        f"{hit} bound only by a subquery / UNION "
                        "block — outside this subset")
        inner_filters = [f for f in spec["filters"]
                         if not _refs_late(f)]
        deferred = [f for f in spec["filters"] if _refs_late(f)]
    else:
        inner_filters, deferred = spec["filters"], []
    if spec["path"] is not None:
        p = spec["path"]
        s_var = p["subj"][1:] if p["subj"].startswith("?") else None
        o_var = p["obj"][1:] if p["obj"].startswith("?") else None
        out = match_path(
            triples, p["steps"],
            src=None if s_var is not None else p["subj"],
            dst=None if o_var is not None else p["obj"])
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
            paths=spec["path_patterns"] or None,
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
    if spec["binds"] and spec["path"] is not None:
        # lone-path route: binds are plain projections over the result
        # (this route has no FILTERs that could reference them)
        for expr, alias in spec["binds"]:
            if alias in result.columns:
                raise ValueError(
                    f"BIND alias ?{alias} is already bound — SPARQL "
                    "forbids rebinding (1.1 §10.1)")
            result = result.withColumn(alias, F.expr(expr))
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
    if not bgp_route and spec["path"] is None:
        # UNION-base / subquery-only WHERE: binds then ALL filters
        # apply post-join (match_bgp never ran, so nothing was
        # applied inside it)
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
        from pyspark.sql import functions as F

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
        from pyspark.sql import functions as F

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
