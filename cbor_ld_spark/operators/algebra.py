"""The query algebra: what ``operators/sparql.py`` parses a group into
and ``operators/bgp.py`` evaluates.

Group members:

* a triple pattern ``(subj, pred, obj)`` or a quad pattern ``(subj,
  pred, obj, graph)``, a plain tuple of terms;
* ``Path(steps, subj, obj)``, a property path between two terms;
* ``OptionalGroup(patterns, paths, filters)``, an OPTIONAL group that
  is a SPARQL §18.5 LeftJoin unit (a one-member OPTIONAL is its member).

Path steps, each with a modifier ``one``, ``plus`` (``+``), ``star``
(``*``) or ``opt`` (``?``):

* ``Atom(preds, mod)``, one edge set: predicate alternates, where
  ``^p`` inverts an alternate and all-``!p`` alternates form a negated
  property set; ``(preds, mod)`` with ``preds`` a string or a list of
  strings is the same atom;
* ``Group(steps, mod)``, a parenthesised sub-path;
* ``Alt(options, mod)``, an alternation with a group operand, each
  option one step with its own modifier.

A term that starts with ``?`` is a variable."""

from __future__ import annotations

import re
from dataclasses import dataclass

MODS = ("one", "plus", "star", "opt")


@dataclass(frozen=True)
class Atom:
    preds: tuple
    mod: str = "one"


@dataclass(frozen=True)
class Group:
    steps: tuple
    mod: str = "one"


@dataclass(frozen=True)
class Alt:
    options: tuple
    mod: str = "one"


@dataclass(frozen=True)
class Path:
    steps: tuple
    subj: str
    obj: str


@dataclass(frozen=True)
class OptionalGroup:
    patterns: tuple
    paths: tuple
    filters: tuple


def as_step(step, i: int):
    """Step ``i`` of a path as a typed step; an atom may be written
    ``(preds, mod)``."""
    if not isinstance(step, (Atom, Group, Alt)):
        if not isinstance(step, tuple) or len(step) != 2:
            raise ValueError(f"step {i} must be (preds, mod): {step!r}")
        preds, mod = step
        preds = (preds,) if isinstance(preds, str) else tuple(preds)
        if not all(isinstance(p, str) for p in preds):
            raise ValueError(f"step {i}: a (preds, mod) step takes "
                             f"predicate strings, got {step!r}")
        step = Atom(preds, mod)
    if step.mod not in MODS:
        raise ValueError(f"step {i}: unknown modifier {step.mod!r} "
                         f"(expected one of {MODS})")
    if isinstance(step, Atom) and not step.preds:
        raise ValueError(f"step {i}: empty alternation")
    return step


def variables(entry) -> set[str]:
    """The names of the variables a group member binds or reads."""
    if isinstance(entry, OptionalGroup):
        return set().union(*map(variables, entry.patterns + entry.paths))
    terms = (entry.subj, entry.obj) if isinstance(entry, Path) else entry
    return {t[1:] for t in terms if t.startswith("?")}


def mentions(expr: str, names) -> list[str]:
    """The ``names`` that the expression ``expr`` reads, in order."""
    return [v for v in names if re.search(rf"\b{re.escape(v)}\b", expr)]
