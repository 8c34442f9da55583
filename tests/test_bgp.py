"""BGP matcher: hand-checkable conjunctive pattern semantics."""

import pytest


def _triples(spark, rows):
    return spark.createDataFrame(
        [r + ("g",) for r in rows],
        "subj string, pred string, obj string, graph string")


_DATA = [
    ("c1", "issuer", "org1"), ("c1", "subject", "p1"),
    ("c2", "issuer", "org2"), ("c2", "subject", "p2"),
    ("c3", "issuer", "org1"),  # no subject
    ("p1", "age", "21"), ("p2", "age", "65"),
    ("x", "loves", "x"), ("y", "loves", "z"),
]


def test_bgp_chain_join(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    out = match_bgp(_triples(spark, _DATA), [
        ("?c", "issuer", "?o"),
        ("?c", "subject", "?p"),
        ("?p", "age", "?a"),
    ])
    assert out.columns == ["c", "o", "p", "a"]
    got = {tuple(r) for r in out.collect()}
    assert got == {("c1", "org1", "p1", "21"), ("c2", "org2", "p2", "65")}


def test_bgp_repeated_var_in_one_pattern(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    out = match_bgp(_triples(spark, _DATA), [("?v", "loves", "?v")])
    assert [r["v"] for r in out.collect()] == ["x"]


def test_bgp_ground_pattern_exists_guard(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    present = match_bgp(t, [("?p", "age", "?a"),
                            ("c1", "issuer", "org1")])
    assert present.count() == 2  # guard passes, bindings unaffected
    absent = match_bgp(t, [("?p", "age", "?a"),
                           ("c1", "issuer", "org999")])
    assert absent.count() == 0


def test_bgp_distinct_collapses_duplicate_assertions(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA + [("c1", "issuer", "org1")] * 3)
    out = match_bgp(t, [("?c", "issuer", "org1")])
    assert sorted(r["c"] for r in out.collect()) == ["c1", "c3"]


def test_bgp_rejects_degenerate_inputs(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    with pytest.raises(ValueError):
        match_bgp(t, [])
    with pytest.raises(ValueError):
        match_bgp(t, [("c1", "issuer", "org1")])  # no variables
    with pytest.raises(ValueError):
        match_bgp(t, [("?", "issuer", "?x")])  # bare '?'
    # '_'-prefixed vars collide with internal _exists_i guard columns:
    # must be a typed error, not a silent cross join (r6 ADVICE)
    with pytest.raises(ValueError, match="may not start with '_'"):
        match_bgp(t, [("?_x", "issuer", "?y")])


def _bgp_eval_py(triples, patterns):
    """Reference evaluator: nested-bind join, distinct projection in
    first-appearance var order (mirrors the oracle's replay)."""
    var_order = []
    for pat in patterns:
        for t in pat:
            if t.startswith("?") and t[1:] not in var_order:
                var_order.append(t[1:])
    binds = [{}]
    for pat in patterns:
        new = []
        for b in binds:
            for spo in triples:
                m = dict(b)
                ok = True
                for term, val in zip(pat, spo):
                    if term.startswith("?"):
                        v = term[1:]
                        if v in m and m[v] != val:
                            ok = False
                            break
                        m[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    new.append(m)
        binds = new
    return {tuple(m[v] for v in var_order) for m in binds}, var_order


def test_bgp_random_equivalence(spark):
    """Seeded-random graphs x patterns vs the pure-Python evaluator —
    one Spark session, many cases (joins, cross products, selective
    constants, repeated vars across patterns all get drawn)."""
    import random

    from cbor_ld_spark.operators.bgp import match_bgp

    rng = random.Random(20260817)
    subs = [f"s{i}" for i in range(6)]
    preds = ["p1", "p2", "p3"]
    objs = subs + ["o1", "o2"]
    for case in range(6):
        triples = sorted({
            (rng.choice(subs), rng.choice(preds), rng.choice(objs))
            for _ in range(25)})
        t = _triples(spark, triples)
        n_pats = rng.randint(1, 3)
        vars_pool = ["?a", "?b", "?c"]
        patterns = []
        for _ in range(n_pats):
            pat = (rng.choice(vars_pool + subs),
                   rng.choice(vars_pool + preds),
                   rng.choice(vars_pool + objs))
            patterns.append(pat)
        expect, var_order = _bgp_eval_py(triples, patterns)
        if not var_order:
            continue
        out = match_bgp(t, patterns)
        assert out.columns == var_order, (case, patterns)
        got = {tuple(r) for r in out.collect()}
        assert got == expect, (case, patterns)


def test_bgp_optional_left_join_semantics(spark):
    """c1's subject has an age, c2's does not: OPTIONAL keeps both
    rows, NULL age for the unmatched one; unconnected OPTIONAL raises."""
    import pytest

    from cbor_ld_spark.operators.bgp import match_bgp

    data = [
        ("c1", "subject", "p1"), ("c2", "subject", "p3"),
        ("p1", "age", "21"),
    ]
    out = match_bgp(_triples(spark, data),
                    [("?c", "subject", "?p")],
                    optional=[("?p", "age", "?a")])
    assert out.columns == ["c", "p", "a"]
    got = {tuple(r) for r in out.collect()}
    assert got == {("c1", "p1", "21"), ("c2", "p3", None)}

    with pytest.raises(ValueError, match="unconnected"):
        match_bgp(_triples(spark, data),
                  [("?c", "subject", "?p")],
                  optional=[("?x", "age", "?y")])


def test_bgp_optional_random_equivalence(spark):
    """Seeded-random required+optional vs a Python evaluator with the
    same sequential-left-join semantics."""
    import random

    from cbor_ld_spark.operators.bgp import match_bgp

    def eval_py(triples, patterns, optional):
        def match(b, pat, spo):
            m = dict(b)
            for term, val in zip(pat, spo):
                if term.startswith("?"):
                    v = term[1:]
                    if v in m:
                        if m[v] is None or m[v] != val:
                            return None
                    else:
                        m[v] = val
                elif term != val:
                    return None
            return m

        var_order = []
        for pat in list(patterns) + list(optional):
            for t in pat:
                if t.startswith("?") and t[1:] not in var_order:
                    var_order.append(t[1:])
        binds = [{}]
        for pat in patterns:
            binds = [m for b in binds for spo in triples
                     if (m := match(b, pat, spo)) is not None]
        for pat in optional:
            new = []
            for b in binds:
                ms = [m for spo in triples
                      if (m := match(b, pat, spo)) is not None]
                if ms:
                    new.extend(ms)
                else:
                    miss = dict(b)
                    for t in pat:
                        if t.startswith("?") and t[1:] not in miss:
                            miss[t[1:]] = None
                    new.append(miss)
            binds = new
        return {tuple(m.get(v) for v in var_order) for m in binds}, var_order

    rng = random.Random(99)
    subs = [f"s{i}" for i in range(5)]
    preds = ["p1", "p2"]
    objs = subs + ["o1"]
    for case in range(5):
        triples = sorted({
            (rng.choice(subs), rng.choice(preds), rng.choice(objs))
            for _ in range(18)})
        t = _triples(spark, triples)
        req = [("?a", rng.choice(preds), "?b")]
        opt = [("?b", rng.choice(preds), "?c")]
        expect, var_order = eval_py(triples, req, opt)
        out = match_bgp(t, req, optional=opt)
        assert out.columns == var_order
        got = {tuple(r) for r in out.collect()}
        assert got == expect, (case, triples)


def test_bgp_filter_expression(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    out = match_bgp(t, [("?c", "subject", "?p"), ("?p", "age", "?a")],
                    filters=["cast(a as int) >= 50"])
    assert [tuple(r) for r in out.collect()] == [("c2", "p2", "65")]
    # filter referencing all bound vars, multiple filters AND together
    out = match_bgp(t, [("?c", "subject", "?p"), ("?p", "age", "?a")],
                    filters=["cast(a as int) >= 18", "p != 'p2'"])
    assert [tuple(r) for r in out.collect()] == [("c1", "p1", "21")]


def test_bgp_filter_pushed_below_join(spark):
    """A single-pattern filter must reach that pattern's scan, not sit
    above the join — Catalyst pushdown through our compiled plan."""
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    out = match_bgp(t, [("?c", "subject", "?p"), ("?p", "age", "?a")],
                    filters=["a = '65'"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.find("Join")
    filt_pos = plan.rfind("65")
    assert join_pos != -1 and filt_pos > join_pos, plan


def test_bgp_not_exists(spark):
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    # credentials WITHOUT a subject assertion (c3)
    out = match_bgp(t, [("?c", "issuer", "?i")],
                    not_exists=[("?c", "subject", "?p")])
    assert {tuple(r) for r in out.collect()} == {("c3", "org1")}
    # fresh variable in not_exists is existential; constant positions
    # narrow the removal: drop creds whose subject is exactly p1
    out = match_bgp(t, [("?c", "issuer", "?i")],
                    not_exists=[("?c", "subject", "p1")])
    assert {tuple(r) for r in out.collect()} == {("c2", "org2"),
                                                 ("c3", "org1")}
    # disconnected NOT EXISTS is rejected loudly
    with pytest.raises(ValueError, match="disconnected"):
        match_bgp(t, [("?c", "issuer", "?i")],
                  not_exists=[("?q", "loves", "?r")])


def test_bgp_filter_not_exists_compose(spark):
    """FILTER and NOT EXISTS in one query: adult subjects whose
    credential has no second 'issuer org2' assertion."""
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    out = match_bgp(t, [("?c", "subject", "?p"), ("?p", "age", "?a")],
                    filters=["cast(a as int) >= 18"],
                    not_exists=[("?c", "issuer", "org2")])
    assert [tuple(r) for r in out.collect()] == [("c1", "p1", "21")]


def test_path_sequence_and_inverse(spark):
    """^issuer/subject: issuer -> their credentials' subjects."""
    from cbor_ld_spark.operators.bgp import match_path

    t = _triples(spark, _DATA)
    out = match_path(t, [("^issuer", "one"), ("subject", "one")])
    assert {tuple(r) for r in out.collect()} == {("org1", "p1"),
                                                 ("org2", "p2")}


def test_path_alternation(spark):
    from cbor_ld_spark.operators.bgp import match_path

    t = _triples(spark, _DATA)
    out = match_path(t, [(["issuer", "subject"], "one")])
    got = {tuple(r) for r in out.collect()}
    assert got == {("c1", "org1"), ("c2", "org2"), ("c3", "org1"),
                   ("c1", "p1"), ("c2", "p2")}


def test_path_plus_star_opt(spark):
    from cbor_ld_spark.operators.bgp import match_path

    chain = [("a", "p", "b"), ("b", "p", "c"), ("x", "q", "y")]
    t = _triples(spark, chain)
    plus = {tuple(r) for r in match_path(t, [("p", "plus")]).collect()}
    assert plus == {("a", "b"), ("b", "c"), ("a", "c")}
    # star adds the zero-length identity over ALL graph terms
    star = {tuple(r) for r in match_path(t, [("p", "star")]).collect()}
    terms = {"a", "b", "c", "x", "y"}
    assert star == plus | {(n, n) for n in terms}
    opt = {tuple(r) for r in match_path(t, [("q", "opt")]).collect()}
    assert opt == {("x", "y")} | {(n, n) for n in terms}


def test_path_sequence_with_closure_step(spark):
    """subject/knows+ : credential -> everyone its subject transitively
    knows."""
    from cbor_ld_spark.operators.bgp import match_path

    rows = [("c1", "subject", "p1"), ("p1", "knows", "p2"),
            ("p2", "knows", "p3")]
    t = _triples(spark, rows)
    out = match_path(t, [("subject", "one"), ("knows", "plus")])
    assert {tuple(r) for r in out.collect()} == {("c1", "p2"),
                                                 ("c1", "p3")}


def test_path_rejects_degenerate(spark):
    from cbor_ld_spark.operators.bgp import match_path

    t = _triples(spark, _DATA)
    with pytest.raises(ValueError, match="at least one step"):
        match_path(t, [])
    with pytest.raises(ValueError, match="unknown modifier"):
        match_path(t, [("issuer", "twice")])
    with pytest.raises(ValueError, match="empty alternation"):
        match_path(t, [([], "one")])


def test_path_negated_property_set(spark):
    """!(issuer|subject): edges via any OTHER predicate (SPARQL 1.1
    negated property set, forward direction)."""
    from cbor_ld_spark.operators.bgp import match_path

    t = _triples(spark, _DATA)
    out = match_path(t, [(["!issuer", "!subject"], "one")])
    got = {tuple(r) for r in out.collect()}
    assert got == {("p1", "21"), ("p2", "65"), ("x", "x"), ("y", "z")}
    # single negated pred as a bare string
    only_age = {("c1", "org1"), ("c2", "org2"), ("c3", "org1"),
                ("c1", "p1"), ("c2", "p2"), ("x", "x"), ("y", "z")}
    got2 = {tuple(r) for r in match_path(t, [("!age", "one")]).collect()}
    assert got2 == only_age
    with pytest.raises(ValueError, match="mix negated"):
        match_path(t, [(["!issuer", "subject"], "one")])


def test_sparql_parsers():
    from cbor_ld_spark.operators.algebra import Alt, Atom, Group
    from cbor_ld_spark.operators.sparql import parse_path

    assert parse_path("<urn:p>") == [Atom(("urn:p",), "one")]
    assert parse_path("<urn:p>/<urn:q>|<urn:r>+/^<urn:s>") == [
        Atom(("urn:p",), "one"), Atom(("urn:q", "urn:r"), "plus"),
        Atom(("^urn:s",), "one")]
    assert parse_path("!<urn:p>|!<urn:q>*") == [
        Atom(("!urn:p", "!urn:q"), "star")]
    with pytest.raises(ValueError, match="empty step"):
        parse_path("<urn:p>//<urn:q>")
    # r7: https IRIs tokenize correctly (the old split('/') parser
    # broke on any scheme://); parenthesised groups parse and nest
    assert parse_path("<https://w.org/x>/<https://w.org/y>+") == [
        Atom(("https://w.org/x",), "one"),
        Atom(("https://w.org/y",), "plus")]
    assert parse_path("(<urn:p>/<urn:q>)+") == [
        Group((Atom(("urn:p",)), Atom(("urn:q",))), "plus")]
    assert parse_path("(<urn:p>/(<urn:q>|<urn:r>)*)+") == [
        Group((Atom(("urn:p",)),
               Group((Atom(("urn:q", "urn:r")),), "star")), "plus")]
    # r8: alternation of parenthesised groups is IN the subset now
    assert parse_path("(<urn:p>)|<urn:q>") == [
        Alt((Group((Atom(("urn:p",)),)), Atom(("urn:q",))))]
    for bad, msg in [("(<urn:p>", "unbalanced"),
                     ("<urn:p>)", "trailing"),
                     ("<urn:p>|", "dangling"),
                     ("", "empty path")]:
        with pytest.raises(ValueError, match=msg):
            parse_path(bad)


def test_bgp_union(spark):
    """UNION of two groups with partly-disjoint variables: NULL pads
    the unbound side, columns in first-appearance order across
    groups."""
    from cbor_ld_spark.operators.bgp import match_union

    t = _triples(spark, _DATA)
    out = match_union(t, [
        [("?c", "issuer", "?i")],
        [("?c", "subject", "?p"), ("?p", "age", "?a")],
    ])
    assert out.columns == ["c", "i", "p", "a"]
    got = {tuple(r) for r in out.collect()}
    assert got == {
        ("c1", "org1", None, None), ("c2", "org2", None, None),
        ("c3", "org1", None, None),
        ("c1", None, "p1", "21"), ("c2", None, "p2", "65")}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one group"):
        match_union(t, [])


def test_path_entries_told_apart_by_shape(spark):
    """A pattern whose subject is the literal ``__path__`` is a pattern,
    not a path entry: a path entry's steps are a list.  Checked in a
    UNION branch and in an OPTIONAL member."""
    from cbor_ld_spark.operators.bgp import match_bgp, match_union
    from cbor_ld_spark.operators.sparql import parse_sparql

    t = _triples(spark, [("__path__", "p", "o1"), ("o1", "q", "x1"),
                         ("s1", "r", "o1")])
    spec = parse_sparql(
        "SELECT * WHERE { { __path__ <p> ?o } UNION { ?o <q> ?x } }")
    out = match_union(t, spec["union"])
    assert out.columns == ["o", "x"]
    assert {tuple(r) for r in out.collect()} == {("o1", None),
                                                 ("o1", "x1")}

    spec = parse_sparql(
        "SELECT * WHERE { ?s <r> ?o . OPTIONAL { __path__ <p> ?o } }")
    assert spec["optional"] == [("__path__", "p", "?o")]
    out = match_bgp(t, spec["patterns"], optional=spec["optional"])
    assert {tuple(r) for r in out.collect()} == {("s1", "o1")}


def test_path_oracle_negated_property_set(monkeypatch):
    """The pure-python oracle replay implements '!' steps with the
    same semantics as match_path (r6 ADVICE: previously a '!' atom
    fell into the plain-predicate branch and matched nothing)."""
    import __spark_entry__ as se

    triples = [("a", "p", "b"), ("b", "q", "c"), ("a", "r", "d")]
    monkeypatch.setattr(se, "_realized_triples", lambda sf: triples)
    sql = se._path_oracle([(["!p"], "one")], sf_dir="ignored")
    # edges via any predicate other than p: (b,c) and (a,d), not (a,b)
    assert "'b'::VARCHAR, 'c'::VARCHAR" in sql
    assert "'a'::VARCHAR, 'd'::VARCHAR" in sql
    assert "'a'::VARCHAR, 'b'::VARCHAR" not in sql
    with pytest.raises(ValueError, match="mixed negated"):
        se._path_oracle([(["!p", "q"], "one")], sf_dir="ignored")


def test_path_seeded_equivalence_random(spark):
    """Seeded (ground-endpoint) path evaluation == the unconstrained
    tier filtered to that endpoint — random graphs x random step
    sequences covering one/plus/star/opt, inverse and negated-set
    alternates, for src-bound, dst-bound and both-bound calls."""
    import random

    from cbor_ld_spark.operators.algebra import Group
    from cbor_ld_spark.operators.bgp import match_path

    rng = random.Random(20260817)
    preds = ["p", "q", "r"]
    for case in range(5):
        nodes = [f"n{i}" for i in range(7)]
        triples = sorted({
            (rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
            for _ in range(14)})
        t = _triples(spark, triples)
        def rand_atom():
            kind = rng.random()
            if kind < 0.2:
                return ["!" + p for p in rng.sample(preds, 2)]
            if kind < 0.4:
                return ["^" + rng.choice(preds), rng.choice(preds)]
            return rng.choice(preds)

        steps = []
        for _ in range(rng.randint(1, 3)):
            mod = rng.choice(["one", "plus", "star", "opt"])
            if rng.random() < 0.25:  # parenthesised group step
                steps.append(Group(tuple(
                    (rand_atom(), "one")
                    for _ in range(rng.randint(1, 2))), mod))
            else:
                steps.append((rand_atom(), mod))
        full = {tuple(r) for r in match_path(t, steps).collect()}
        seed = rng.choice(nodes + ["ghost"])  # maybe not a graph term
        got_s = {tuple(r)
                 for r in match_path(t, steps, src=seed).collect()}
        assert got_s == {p for p in full if p[0] == seed}, (
            case, steps, seed)
        got_d = {tuple(r)
                 for r in match_path(t, steps, dst=seed).collect()}
        assert got_d == {p for p in full if p[1] == seed}, (
            case, steps, seed)
        end = rng.choice(nodes)
        got_b = {tuple(r) for r in match_path(
            t, steps, src=seed, dst=end).collect()}
        assert got_b == {p for p in full
                         if p[0] == seed and p[1] == end}, (
            case, steps, seed, end)


def test_path_seeded_one_opt_atoms_random(spark):
    """Seeded ``one``/``opt`` atom steps (plain, ``^p`` and ``!p``) ==
    the unconstrained tier filtered to the endpoint, src-, dst- and
    both-bound: 12 path shapes x 3 bindings.  Every triple is held
    under one doc_sha and about half again under a second, as the
    shared tier holds repeats; seeds include a non-term.  Single-step
    graphs also hold an edge with a null obj, seeded from its subject:
    an ``opt`` step keeps a matched edge's null end, as the union of
    the step with its frontier does."""
    import random

    from cbor_ld_spark.operators.bgp import match_path

    rng = random.Random(20261019)
    preds = ["p", "q", "r"]
    nodes = [f"n{i}" for i in range(6)]
    atoms = {"plain": lambda: rng.choice(preds),
             "inverse": lambda: ["^" + rng.choice(preds)],
             "negated": lambda: ["!" + rng.choice(preds)]}
    shapes = [(mod, kind, multi) for mod in ("one", "opt")
              for kind in atoms for multi in (False, True)]
    for i, (mod, kind, multi) in enumerate(shapes):
        rows = sorted({(rng.choice(nodes), rng.choice(preds),
                        rng.choice(nodes)) for _ in range(10)})
        steps = [(atoms[kind](), mod)]
        seed = rng.choice(nodes)
        if multi:
            other = rng.choice(list(atoms.values()))
            steps.insert(rng.randrange(2),
                         (other(), rng.choice(["one", "opt"])))
        else:
            rows.append((seed, rng.choice(preds), None))
        if i % 4 == 3:
            seed = "ghost"
        docs = [r + ("g", "d1") for r in rows] + [
            r + ("g", "d2") for r in rows if rng.random() < 0.5]
        t = spark.createDataFrame(
            docs, "subj string, pred string, obj string, graph string, "
                  "doc_sha string")
        full = {tuple(r) for r in match_path(t, steps).collect()}
        end = rng.choice(nodes)
        for src, dst in ((seed, None), (None, seed), (seed, end)):
            got = {tuple(r) for r in match_path(
                t, steps, src=src, dst=dst).collect()}
            want = {p for p in full if (src is None or p[0] == src)
                    and (dst is None or p[1] == dst)}
            assert got == want, (steps, rows, src, dst)
    t = _triples(spark, [("a", "p", None), ("a", "p", "b")])
    got = {tuple(r) for r in match_path(t, [("p", "opt")],
                                        src="a").collect()}
    assert got == {("a", "a"), ("a", None), ("a", "b")}


def test_path_seeded_skips_offpath_component(spark):
    """A bound endpoint must not pay for the closure of components the
    seed cannot reach: chain from the seed + a 40-clique elsewhere.
    The full closure holds >1600 clique pairs; the seeded answer is
    the 5-node chain suffix, and the frontier layers (bounded by the
    chain's eccentricity) never materialize clique pairs."""
    from cbor_ld_spark.operators.bgp import match_path

    chain = [(f"c{i}", "p", f"c{i+1}") for i in range(5)]
    clique = [(f"k{i}", "p", f"k{j}")
              for i in range(40) for j in range(40) if i != j]
    t = _triples(spark, chain + clique)
    out = match_path(t, [("p", "plus")], src="c0")
    got = {tuple(r) for r in out.collect()}
    assert got == {("c0", f"c{i}") for i in range(1, 6)}
    # the unconstrained closure of the same graph is quadratic in the
    # clique: documented contrast, not exercised here (cost)


def test_path_group_steps(spark):
    """(p/q)+ — closure of the COMPOSED sub-relation, not of either
    predicate alone — equivalence-tested vs manual composition
    (r6 VERDICT #7)."""
    from cbor_ld_spark.operators.bgp import match_path
    from cbor_ld_spark.operators.sparql import parse_path

    # a -p-> b -q-> c -p-> d -q-> e   plus a stray p edge
    rows = [("a", "p", "b"), ("b", "q", "c"), ("c", "p", "d"),
            ("d", "q", "e"), ("x", "p", "y")]
    t = _triples(spark, rows)
    steps = parse_path("(<p>/<q>)+")
    got = {tuple(r) for r in match_path(t, steps).collect()}

    # manual composition: R = p JOIN q, then closure
    base = {("a", "c"), ("c", "e")}
    expect = set(base)
    while True:
        new = {(a, d) for a, b in expect for c, d in expect
               if b == c} - expect
        if not new:
            break
        expect |= new
    assert got == expect == {("a", "c"), ("c", "e"), ("a", "e")}

    # seeded tier over the same group step
    got_s = {tuple(r)
             for r in match_path(t, steps, src="a").collect()}
    assert got_s == {("a", "c"), ("a", "e")}
    got_d = {tuple(r)
             for r in match_path(t, steps, dst="e").collect()}
    assert got_d == {("a", "e"), ("c", "e")}

    # nested: ((p/q)*/p)? — star group inside an opt group
    nested = parse_path("((<p>/<q>)*/<p>)?")
    full = {tuple(r) for r in match_path(t, nested).collect()}
    terms = {x for r in rows for x in (r[0], r[2])}
    ident = {(x, x) for x in terms}
    # (p/q)* = closure ∪ identity; then /p; then ∪ identity
    pq_star = expect | ident
    comp = {(a, d) for a, b in pq_star
            for c, d in [(r[0], r[2]) for r in rows if r[1] == "p"]
            if b == c}
    assert full == comp | ident


def test_bgp_optional_unbound_compat(spark):
    """Nested OPTIONALs where the first leaves a var unbound (r6
    VERDICT #4): SPARQL 1.1 compatibility binds the unbound var to
    every match of the second optional."""
    from cbor_ld_spark.operators.bgp import match_bgp

    data = [
        ("c1", "subject", "p1"), ("c2", "subject", "p2"),
        ("p1", "spouse", "s1"),            # p2 has no spouse
        ("s1", "age", "40"), ("q7", "age", "99"),
    ]
    t = _triples(spark, data)
    args = dict(optional=[("?p", "spouse", "?s"),
                          ("?s", "age", "?a")])
    # SPARQL semantics (default): c2's unbound ?s binds to every
    # age-subject via compatibility
    got = {tuple(r) for r in match_bgp(
        t, [("?c", "subject", "?p")], **args).collect()}
    assert got == {
        ("c1", "p1", "s1", "40"),
        ("c2", "p2", "s1", "40"), ("c2", "p2", "q7", "99")}


def test_bgp_optional_unbound_compat_random(spark):
    """Random graphs x random nested-optional chains vs a Python
    evaluator implementing SPARQL compatibility semantics."""
    import random

    from cbor_ld_spark.operators.bgp import match_bgp

    def eval_py(triples, patterns, optional):
        def match(b, pat, spo):
            m = dict(b)
            for term, val in zip(pat, spo):
                if term.startswith("?"):
                    v = term[1:]
                    if v in m and m[v] is not None:
                        if m[v] != val:
                            return None
                    else:
                        m[v] = val  # unbound: compatible, binds
                elif term != val:
                    return None
            return m

        var_order = []
        for pat in list(patterns) + list(optional):
            for t_ in pat:
                if t_.startswith("?") and t_[1:] not in var_order:
                    var_order.append(t_[1:])
        binds = [{}]
        for pat in patterns:
            binds = [m for b in binds for spo in triples
                     if (m := match(b, pat, spo)) is not None]
        for pat in optional:
            new = []
            for b in binds:
                ms = [m for spo in triples
                      if (m := match(b, pat, spo)) is not None]
                if ms:
                    new.extend(ms)
                else:
                    miss = dict(b)
                    for t_ in pat:
                        if t_.startswith("?") and t_[1:] not in miss:
                            miss[t_[1:]] = None
                    new.append(miss)
            binds = new
        return {tuple(m.get(v) for v in var_order) for m in binds}, \
            var_order

    rng = random.Random(20260818)
    subs = [f"s{i}" for i in range(5)]
    preds = ["p", "q", "r"]
    for case in range(4):
        triples = sorted({
            (rng.choice(subs), rng.choice(preds), rng.choice(subs))
            for _ in range(12)})
        t = _triples(spark, triples)
        patterns = [("?a", rng.choice(preds), "?b")]
        optional = [("?b", rng.choice(preds), "?c"),
                    ("?c", rng.choice(preds), "?d"),
                    ("?d", rng.choice(preds), "?e")][:rng.randint(2, 3)]
        expect, var_order = eval_py(triples, patterns, optional)
        out = match_bgp(t, patterns, optional=optional)
        assert out.columns == var_order, (case, optional)
        got = {tuple(r) for r in out.collect()}
        assert got == expect, (case, optional)


def test_parse_sparql_units():
    """Tokenizer + parser: opaque <>/()/\" segments, FILTER forms,
    UNION blocks, path routing, loud rejections."""
    from cbor_ld_spark.operators.algebra import Atom, Path
    from cbor_ld_spark.operators.sparql import parse_sparql

    s = parse_sparql(
        'SELECT ?c WHERE { ?c <urn:p> ?i . '
        'OPTIONAL { ?c <urn:q> ?x } FILTER(i != "z") '
        'FILTER NOT EXISTS { ?c <urn:r> ?y } }')
    assert s["select"] == ["c"]
    assert s["patterns"] == [("?c", "urn:p", "?i")]
    assert s["optional"] == [("?c", "urn:q", "?x")]
    assert s["filters"] == ['i != "z"']
    assert s["not_exists"] == [("?c", "urn:r", "?y")]

    u = parse_sparql('SELECT * WHERE { { ?a <urn:p> ?b } UNION '
                     '{ ?a <urn:q> ?b } }')
    assert u["union"] == [[("?a", "urn:p", "?b")],
                          [("?a", "urn:q", "?b")]]

    # an https IRI predicate is NOT a path (/ inside <>)
    p = parse_sparql('SELECT * WHERE { ?s <https://w.org/p> ?o }')
    assert p["patterns"] == [("?s", "https://w.org/p", "?o")]
    # a real path is a Path entry, keeps ground endpoints
    p2 = parse_sparql('SELECT ?x WHERE { <urn:c> <urn:p>+/<urn:q> ?x }')
    assert p2["patterns"] == [Path(
        (Atom(("urn:p",), "plus"), Atom(("urn:q",), "one")), "urn:c", "?x")]

    # r7 late: a path MIXED with other patterns is a Path entry among
    # them instead of an error
    mix = parse_sparql(
        'SELECT ?x WHERE { ?x <urn:p>+ ?y . ?y <urn:q> ?z }')
    assert mix["patterns"] == [
        Path((Atom(("urn:p",), "plus"),), "?x", "?y"),
        ("?y", "urn:q", "?z")]

    # one statement-dot rule in every group: a stray '.' is skipped
    base = 'SELECT * WHERE { ?a <urn:p> ?b . %s }'
    for group in [
            '{ ?a <urn:q> ?c . . ?c <urn:r> ?d } UNION { ?a <urn:s> ?c }',
            'MINUS { . ?a <urn:q> ?c }',
            'FILTER EXISTS { . ?a <urn:q> ?c }',
            'FILTER NOT EXISTS { . ?a <urn:q> ?c }',
            'GRAPH ?g { . ?a <urn:q> ?c }',
            'OPTIONAL { . ?a <urn:q> ?c . . ?c <urn:r> ?d }']:
        assert parse_sparql(base % group) == \
            parse_sparql(base % group.replace(" .", "")), group

    import pytest as _p
    for bad, msg in [
            ('SELECT * WHERE { OPTIONAL { ?a <urn:p> ?b } }',
             "no patterns"),
            ('SELECT * WHERE { { ?a <urn:p> ?b } }',
             "without UNION"),
            ('SELECT * WHERE { ?a <urn:p> ?b', "unterminated"),
            ('SELECT * { ?a <urn:p> ?b }', "expected 'WHERE'")]:
        with _p.raises(ValueError, match=msg):
            parse_sparql(bad)


def test_run_sparql_matches_programmatic(spark):
    """The text surface and the programmatic API produce identical
    results for the same query (the kg_sparql_select driver row pins
    this on the corpus; here on the hand graph, incl. seeded paths)."""
    from cbor_ld_spark.operators.bgp import match_bgp, match_path
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    text = ('SELECT ?c ?i WHERE { ?c <issuer> ?i . '
            'FILTER NOT EXISTS { ?c <subject> ?s } }')
    via_text = {tuple(r) for r in run_sparql(t, text).collect()}
    via_api = {tuple(r) for r in match_bgp(
        t, [("?c", "issuer", "?i")],
        not_exists=[("?c", "subject", "?s")]).collect()}
    assert via_text == via_api == {("c3", "org1")}

    ptext = 'SELECT ?o WHERE { <c1> <issuer>|<subject> ?o }'
    via_text = {r["o"] for r in run_sparql(t, ptext).collect()}
    via_api = {r["dst"] for r in match_path(
        t, [(["issuer", "subject"], "one")], src="c1").collect()}
    assert via_text == via_api == {"org1", "p1"}


def test_kg_query_cli_sparql(spark, tmp_path):
    """--sparql end-to-end from the shell."""
    import io
    import sys as _sys

    t = _triples(spark, _DATA)
    tdir = str(tmp_path / "triples")
    t.write.parquet(tdir)

    import importlib.util
    import os
    spec = importlib.util.spec_from_file_location(
        "kg_query2", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs", "kg_query.py"))
    kg_query = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(kg_query)
    buf = io.StringIO()
    old = _sys.stdout
    _sys.stdout = buf
    try:
        rc = kg_query.main([
            "--triples", tdir, "--sparql",
            "SELECT ?p ?a WHERE { ?c <subject> ?p . "
            "OPTIONAL { ?p <age> ?a } FILTER(p != 'p9') }"])
    finally:
        _sys.stdout = old
    assert rc == 0
    lines = buf.getvalue().strip().splitlines()
    assert lines[0] == "p\ta"
    assert {l.rstrip("\t") for l in lines[1:]} == {"p1\t21", "p2\t65"}

    # r8: ASK, CONSTRUCT and DESCRIBE forms from the shell
    for q, expect in [
            ("ASK { ?c <issuer> <org1> }", ["ask", "True"]),
            ("ASK { ?c <issuer> <org9> }", ["ask", "False"]),
            ("CONSTRUCT { ?i <urn:of> ?c } WHERE "
             "{ ?c <issuer> ?i . FILTER(i = 'org2') }",
             ["subj\tpred\tobj", "org2\turn:of\tc2"]),
            ("DESCRIBE <p2>",
             ["subj\tpred\tobj", "p2\tage\t65"])]:
        buf = io.StringIO()
        _sys.stdout = buf
        try:
            rc = kg_query.main(["--triples", tdir, "--sparql", q])
        finally:
            _sys.stdout = old
        assert rc == 0
        assert buf.getvalue().strip().splitlines() == expect, q


def test_sparql_text_aggregation(spark):
    """GROUP BY / HAVING / ORDER BY / LIMIT parsed from the query
    string compile to the same groupBy-over-bindings plan; SPARQL
    projection rules enforced loudly."""
    from cbor_ld_spark.operators.sparql import run_sparql

    data = _DATA + [("c4", "issuer", "org1")]
    t = _triples(spark, data)
    q = ('SELECT ?i (COUNT(DISTINCT ?c) AS ?n) WHERE '
         '{ ?c <issuer> ?i } GROUP BY ?i HAVING(?n > 1) '
         'ORDER BY DESC(?n) LIMIT 5')
    out = run_sparql(t, q)
    assert out.columns == ["i", "n"]
    assert [tuple(r) for r in out.collect()] == [("org1", 3)]
    # implicit one-group aggregation
    tot = run_sparql(
        t, 'SELECT (COUNT(DISTINCT ?c) AS ?total) WHERE '
           '{ ?c <issuer> ?i }')
    assert [tuple(r) for r in tot.collect()] == [(4,)]
    # plain ORDER BY + LIMIT without aggregation
    top = run_sparql(
        t, 'SELECT ?c WHERE { ?c <issuer> ?i } ORDER BY ?c LIMIT 2')
    assert [r["c"] for r in top.collect()] == ["c1", "c2"]
    for bad, msg in [
            ('SELECT ?c (COUNT(?x) AS ?n) WHERE { ?c <issuer> ?i } '
             'GROUP BY ?i', "neither GROUP BY keys"),
            ('SELECT ?i WHERE { ?c <issuer> ?i } GROUP BY ?i',
             "without aggregate"),
            ('SELECT (COUNT(?c) AS ?n) ?i WHERE { ?c <issuer> ?i }',
             "need GROUP BY"),
            ('SELECT ?c WHERE { ?c <issuer> ?i } LIMIT x',
             "LIMIT needs an integer")]:
        with pytest.raises(ValueError, match=msg):
            run_sparql(t, bad)


def test_bgp_path_patterns(spark):
    """Property paths INSIDE a BGP (r7): the path relation joins like
    a pattern frame — var endpoints, ground endpoints (seeded tier),
    fully-ground EXISTS guards, repeated endpoint vars."""
    from cbor_ld_spark.operators.algebra import Path
    from cbor_ld_spark.operators.bgp import match_bgp
    from cbor_ld_spark.operators.sparql import run_sparql

    rows = [("pres1", "vc", "c1"), ("c1", "issuer", "org1"),
            ("c2", "issuer", "org2"), ("c1", "type", "T1"),
            ("c2", "type", "T2"), ("a", "p", "b"), ("b", "p", "c")]
    t = _triples(spark, rows)
    steps = [("vc", "opt"), ("issuer", "one")]

    out = match_bgp(t, [("?cred", "type", "?ty"),
                        Path(steps, "?cred", "?i")])
    assert {tuple(r) for r in out.collect()} == {
        ("c1", "T1", "org1"), ("c2", "T2", "org2")}

    # ground object endpoint -> seeded tier inside the BGP
    out = match_bgp(t, [("?cred", "type", "?ty"),
                        Path(steps, "?cred", "org1")])
    assert {tuple(r) for r in out.collect()} == {("c1", "T1")}

    # fully-ground path = EXISTS guard
    present = match_bgp(t, [("?x", "type", "?ty"),
                            Path([("p", "plus")], "a", "c")])
    assert present.count() == 2
    absent = match_bgp(t, [("?x", "type", "?ty"),
                           Path([("p", "plus")], "a", "zzz")])
    assert absent.count() == 0

    # repeated endpoint var: p+ cycles only (none here)
    none = match_bgp(t, [Path([("p", "plus")], "?x", "?x")])
    assert none.count() == 0

    # text surface end-to-end, mixed with FILTER
    q = ("SELECT ?cred ?ty WHERE { ?cred <vc>?/<issuer> <org1> . "
         "?cred <type> ?ty . FILTER(ty != 'T9') }")
    assert [tuple(r) for r in run_sparql(t, q).collect()] == \
        [("c1", "T1")]

    # loud rejections
    with pytest.raises(ValueError, match="may not start with '_'"):
        match_bgp(t, [Path([("p", "one")], "?_x", "?y")])
    # paths inside OPTIONAL are supported since r8 (left-join path
    # relation) — the rejection moved to guard/UNION groups only
    out = run_sparql(t, "SELECT ?x ?y WHERE { ?x <type> ?t . "
                        "OPTIONAL { ?x <p>+ ?y } }")
    assert "y" in out.columns


def test_sparql_values_clause(spark):
    """VALUES restricts a bound var to listed constants (IN filter,
    pushed below the joins); malformed blocks rejected."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    q = ('SELECT ?c ?i WHERE { ?c <issuer> ?i . '
         'VALUES ?i { <org1> } }')
    assert {tuple(r) for r in run_sparql(t, q).collect()} == {
        ("c1", "org1"), ("c3", "org1")}
    # composes with aggregation
    q2 = ('SELECT ?i (COUNT(DISTINCT ?c) AS ?n) WHERE '
          '{ ?c <issuer> ?i . VALUES ?i { <org1> <org2> } } '
          'GROUP BY ?i ORDER BY ?i')
    assert [tuple(r) for r in run_sparql(t, q2).collect()] == [
        ("org1", 2), ("org2", 1)]
    for bad, msg in [
            ('SELECT ?c WHERE { ?c <issuer> ?i . VALUES ?i { } }',
             "empty VALUES"),
            ('SELECT ?c WHERE { ?c <issuer> ?i . VALUES ?i { ?x } }',
             "must be constants"),
            ('SELECT ?c WHERE { ?c <issuer> ?i . '
             'VALUES (?a ?a) { (<x> <y>) } }', "duplicate VALUES var"),
            ('SELECT ?c WHERE { ?c <issuer> ?i . '
             'VALUES (?a ?b) { (<x>) } }', "1 terms for 2 vars")]:
        with pytest.raises(ValueError, match=msg):
            run_sparql(t, bad)


def test_sparql_values_inline_data(spark):
    """SPARQL 1.1 §10.2 inline data (r8): VALUES introduces bindings —
    fresh vars extend the rows (broadcast join), UNDEF is an unbound
    slot (NULL for a fresh var, wildcard for a bound join key), and a
    fresh-only block is a cartesian extension."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    # bound join key + fresh var, UNDEF on both sides of the pattern
    q = ('SELECT ?c ?i ?grp WHERE { ?c <issuer> ?i . '
         'VALUES (?i ?grp) { (<org1> "A") (UNDEF "B") } }')
    got = {(r["c"], r["i"], r["grp"])
           for r in run_sparql(t, q).collect()}
    # (UNDEF "B") matches EVERY issuer binding; (<org1> "A") only org1
    assert got == {("c1", "org1", "A"), ("c3", "org1", "A"),
                   ("c1", "org1", "B"), ("c3", "org1", "B"),
                   ("c2", "org2", "B")}
    # UNDEF in a fresh var -> unbound (NULL)
    q2 = ('SELECT ?c ?grp WHERE { ?c <issuer> ?i . '
          'VALUES (?i ?grp) { (<org2> UNDEF) } }')
    assert [tuple(r) for r in run_sparql(t, q2).collect()] == [
        ("c2", None)]
    # fresh-only single var: cartesian extension
    q3 = ('SELECT ?c ?tag WHERE { ?c <subject> ?p . '
          'VALUES ?tag { "x" "y" } }')
    assert {tuple(r) for r in run_sparql(t, q3).collect()} == {
        ("c1", "x"), ("c1", "y"), ("c2", "x"), ("c2", "y")}
    # a QUOTED "UNDEF" is the literal string, not the keyword
    q4 = ('SELECT ?c ?tag WHERE { ?c <subject> ?p . '
          'VALUES ?tag { "UNDEF" } }')
    assert {r["tag"] for r in run_sparql(t, q4).collect()} == {"UNDEF"}


def test_sparql_values_pushed_to_scan(spark, tmp_path):
    """The VALUES IN-predicate must reach the parquet scan
    (PushedFilters), not sit above the joins."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    tdir = str(tmp_path / "triples_v")
    t.write.parquet(tdir)
    pq = spark.read.parquet(tdir)
    out = run_sparql(
        pq, 'SELECT ?c ?p WHERE { ?c <subject> ?p . '
            '?c <issuer> ?i . VALUES ?i { <org1> <org9> } }')
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    # the VALUES IN-predicate lands in a scan's DataFilters (a
    # single-value VALUES folds to an equality; multi-value stays In)
    assert any("org1" in l and "org9" in l for l in scan_lines), plan
    assert {tuple(r) for r in out.collect()} == {("c1", "p1")}


# --- r8: BIND / inline VALUES / ASK / CONSTRUCT / path alternation ----------


def test_sparql_bind(spark):
    """BIND(expr AS ?v) computes a derived column over the bindings
    (SPARQL 1.1 §10.1): later FILTERs and BINDs see it, rebinding a
    bound variable is an error, and plain groups reject it."""
    from cbor_ld_spark.operators.bgp import match_bgp
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    q = ('SELECT ?c ?u WHERE { ?c <issuer> ?i . '
         'BIND(upper(?i) AS ?u) FILTER(u = "ORG1") }')
    assert {tuple(r) for r in run_sparql(t, q).collect()} == {
        ("c1", "ORG1"), ("c3", "ORG1")}
    # chained binds: the second references the first
    q2 = ('SELECT ?c ?n2 WHERE { ?c <subject> ?p . ?p <age> ?a . '
          'BIND(cast(?a as int) AS ?n) BIND(?n * 2 AS ?n2) '
          'FILTER(n2 > 100) }')
    assert [tuple(r) for r in run_sparql(t, q2).collect()] == [
        ("c2", 130)]
    # programmatic surface: same result via match_bgp(binds=)
    api = match_bgp(t, [("?c", "issuer", "?i")],
                    binds=[("upper(i)", "u")],
                    filters=["u = 'ORG1'"])
    assert {tuple(r) for r in api.collect()} == {
        ("c1", "org1", "ORG1"), ("c3", "org1", "ORG1")}
    for bad, msg in [
            ('SELECT ?c WHERE { ?c <issuer> ?i . '
             'BIND(upper(?i) AS ?i) }', "forbids rebinding"),
            ('SELECT ?c WHERE { ?c <issuer> ?i . BIND(?i) }',
             "BIND needs"),
            ('SELECT ?c WHERE { ?c <issuer> ?i . '
             'OPTIONAL { BIND(1 AS ?x) } }', "only triple patterns")]:
        with pytest.raises(ValueError, match=msg):
            run_sparql(t, bad)


def test_sparql_bind_filter_pushdown(spark, tmp_path):
    """A FILTER over a BIND alias must still reach the pattern's
    parquet scan: the bind is a plain projection, so Catalyst folds
    the alias and pushes the underlying predicate below the join
    (VERDICT r7 #1 plan test)."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    tdir = str(tmp_path / "triples_b")
    t.write.parquet(tdir)
    pq = spark.read.parquet(tdir)
    out = run_sparql(
        pq, 'SELECT ?c ?p ?u WHERE { ?c <issuer> ?i . '
            '?c <subject> ?p . BIND(upper(?i) AS ?u) '
            'FILTER(u = "ORG1") }')
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    # the derived predicate lands in the issuer scan's DataFilters
    assert any("upper(obj" in l and "ORG1" in l
               for l in scan_lines), plan
    assert {tuple(r) for r in out.collect()} == {("c1", "p1", "ORG1")}


def test_sparql_ask(spark):
    """ASK returns exactly one boolean row, whether or not anything
    matched (count over limit(1) — no driver action in the operator);
    the WHERE keyword is optional per SPARQL 1.1."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    yes = run_sparql(t, 'ASK WHERE { ?c <issuer> <org1> }')
    assert [tuple(r) for r in yes.collect()] == [(True,)]
    assert yes.columns == ["ask"]
    no = run_sparql(t, 'ASK { ?c <issuer> <org99> }')
    assert [tuple(r) for r in no.collect()] == [(False,)]
    # composes with FILTER and paths
    f = run_sparql(t, 'ASK { ?p <age> ?a . FILTER(cast(a as int) > 60) }')
    assert [r["ask"] for r in f.collect()] == [True]
    with pytest.raises(ValueError, match="outside this subset"):
        run_sparql(t, 'ASK { ?c <issuer> ?i } LIMIT 5')


def test_sparql_construct(spark):
    """CONSTRUCT instantiates the template per binding — same
    machinery as the rule engine (operators/rules.py
    instantiate_template), so the text and programmatic tiers agree;
    quoted template literals are unwrapped; unbound template vars are
    loud."""
    from cbor_ld_spark.operators.rules import construct
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    q = ('CONSTRUCT { ?i <urn:issued> ?c . ?i <urn:kind> "org" } '
         'WHERE { ?c <issuer> ?i }')
    got = {tuple(r) for r in run_sparql(t, q).collect()}
    api = {tuple(r) for r in construct(
        t, [("?c", "issuer", "?i")],
        [("?i", "urn:issued", "?c"), ("?i", "urn:kind", "org")])
        .collect()}
    assert got == api
    assert ("org1", "urn:kind", "org") in got
    assert ("org1", "urn:issued", "c1") in got
    with pytest.raises(ValueError, match="not bound"):
        run_sparql(t, 'CONSTRUCT { ?z <urn:p> ?c } '
                      'WHERE { ?c <issuer> ?i }')


def test_sparql_select_modifiers_and_form_errors():
    """DISTINCT and REDUCED parse (accepted no-ops — the engine is
    set-semantics throughout, documented divergence); unknown query
    forms are loud."""
    from cbor_ld_spark.operators.sparql import parse_sparql

    for kw in ("DISTINCT", "REDUCED"):
        s = parse_sparql(
            f'SELECT {kw} ?c WHERE {{ ?c <urn:p> ?i }}')
        assert s["form"] == "select" and s["select"] == ["c"]
    a = parse_sparql('ASK { ?c <urn:p> ?i }')
    assert a["form"] == "ask" and a["select"] is None
    c = parse_sparql('CONSTRUCT { ?c <urn:q> ?i } '
                     'WHERE { ?c <urn:p> ?i }')
    assert c["form"] == "construct"
    assert c["template"] == [("?c", "urn:q", "?i")]
    # DESCRIBE is a supported form since late r8
    d = parse_sparql('DESCRIBE ?x WHERE { ?x <urn:p> ?y }')
    assert d["form"] == "describe" and d["describe"] == ["?x"]
    with pytest.raises(ValueError, match="SELECT, ASK, CONSTRUCT"):
        parse_sparql('EXPLAIN { ?x <urn:p> ?y }')


def test_sparql_values_inside_plain_group_rejected():
    """A VALUES block inside OPTIONAL / NOT EXISTS / UNION must be
    rejected loudly, not consumed as triple-pattern terms (ADVICE
    r7)."""
    from cbor_ld_spark.operators.sparql import parse_sparql

    with pytest.raises(ValueError, match="only triple patterns"):
        parse_sparql('SELECT ?x WHERE { ?x <urn:p> ?y . '
                     'OPTIONAL { VALUES ?y { <urn:a> } } }')


def test_sparql_tokens_quoted_paren():
    """Quoted strings inside parens are opaque to the balanced-paren
    scan: a '(' inside a literal must not miscount depth (ADVICE
    r7)."""
    from cbor_ld_spark.operators.sparql import _sparql_tokens

    toks = _sparql_tokens('FILTER(?name = "a(b")')
    assert toks == ['FILTER(?name = "a(b")']
    with pytest.raises(ValueError, match="unbalanced"):
        _sparql_tokens('FILTER(?name = x(')


def test_sparql_tokens_iri_with_apostrophe():
    """An IRI inside parens is opaque before quote handling: the
    apostrophe in <urn:o'brien> is an IRI character, not a string
    delimiter; '<' as less-than keeps the paren count."""
    from cbor_ld_spark.operators.sparql import _sparql_tokens

    assert _sparql_tokens("FILTER(?s = <urn:o'brien>) .") == [
        "FILTER(?s = <urn:o'brien>)", "."]
    assert _sparql_tokens("FILTER((?a<3)||?b>1)") == ["FILTER((?a<3)||?b>1)"]
    assert _sparql_tokens("FILTER((?a < 3) || ?b > 1)") == [
        "FILTER((?a < 3) || ?b > 1)"]
    with pytest.raises(ValueError, match="unterminated"):
        _sparql_tokens("FILTER(?s = 'o)")


def test_prefixes_not_expanded_in_order_by_and_agg_bodies():
    """ORDER BY '(expr)' / DESC(expr) sort keys and '(AGG AS ?v)' items
    are SQL expressions like FILTER bodies: declared prefixed names in
    them stay as written, while term positions still expand."""
    from cbor_ld_spark.operators.sparql import parse_sparql

    s = parse_sparql(
        "PREFIX ex: <https://ex.org/> "
        "SELECT ?s (COUNT(ex:x) AS ?n) WHERE { ?s ex:p ?o } "
        "GROUP BY ?s ORDER BY DESC(ex:y) (ex:z) ?s LIMIT 3")
    assert s["aggs"] == [("COUNT(ex:x)", "n")]
    assert s["order_by"] == [("ex:y", "desc", "expr"),
                             ("ex:z", "asc", "expr"), ("s", "asc", "var")]
    assert s["patterns"] == [("?s", "https://ex.org/p", "?o")]
    assert s["limit"] == 3
    # a parenthesised property path in the WHERE group still expands
    p = parse_sparql("PREFIX ex: <https://ex.org/> "
                     "SELECT ?o WHERE { <urn:a> (ex:p/ex:q)+ ?o }")
    assert "ex:" not in repr(p["patterns"])


def test_path_alternation_of_groups(spark):
    """(p/q)|r — alternation whose operands are parenthesised groups
    (VERDICT r7 #2): union of the alternatives' sub-relations, each
    alternative keeping its OWN modifier; seeded tiers agree; the
    all-atom legacy reading is unchanged and a non-last atom modifier
    stays a loud error."""
    from cbor_ld_spark.operators.algebra import Atom
    from cbor_ld_spark.operators.bgp import match_path
    from cbor_ld_spark.operators.sparql import parse_path

    rows = [("a", "p", "b"), ("b", "q", "c"), ("a", "r", "d"),
            ("d", "r", "e"), ("c", "p", "f")]
    t = _triples(spark, rows)

    # (p/q)|r : {a-(p/q)->c} ∪ {a->d, d->e}
    steps = parse_path("(<p>/<q>)|<r>")
    got = {tuple(r) for r in match_path(t, steps).collect()}
    assert got == {("a", "c"), ("a", "d"), ("d", "e")}

    # per-alternative modifiers: (p/q)|(r)+ closes ONLY the r side
    steps2 = parse_path("(<p>/<q>)|(<r>)+")
    got2 = {tuple(r) for r in match_path(t, steps2).collect()}
    assert got2 == {("a", "c"), ("a", "d"), ("d", "e"), ("a", "e")}

    # seeded tiers == unconstrained filtered (both directions)
    for s in ("a", "d", "ghost"):
        got_s = {tuple(r)
                 for r in match_path(t, steps2, src=s).collect()}
        assert got_s == {p for p in got2 if p[0] == s}, s
        got_d = {tuple(r)
                 for r in match_path(t, steps2, dst=s).collect()}
        assert got_d == {p for p in got2 if p[1] == s}, s

    # composes in sequence and under an outer closure
    seq = parse_path("((<p>/<q>)|<r>)/<p>")
    got3 = {tuple(r) for r in match_path(t, seq).collect()}
    assert got3 == {("a", "f")}

    # legacy all-atom alternation reading unchanged: q|r+ == (q|r)+
    legacy = parse_path("<q>|<r>+")
    assert legacy == [Atom(("q", "r"), "plus")]
    with pytest.raises(ValueError, match="parenthesise"):
        parse_path("<q>+|<r>")


def test_path_alternation_python_replay(spark):
    """Random alternation-of-groups paths vs a pure-Python replay of
    the SPARQL semantics (union of alternatives, per-alternative
    closures)."""
    import random

    from cbor_ld_spark.operators.algebra import Alt, Group
    from cbor_ld_spark.operators.bgp import match_path

    rng = random.Random(20260818)
    preds = ["p", "q"]

    def closure(pairs):
        out = set(pairs)
        while True:
            new = {(a, d) for a, b in out for c, d in out
                   if b == c} - out
            if not new:
                return out
            out |= new

    for case in range(4):
        nodes = [f"n{i}" for i in range(6)]
        triples = sorted({
            (rng.choice(nodes), rng.choice(preds), rng.choice(nodes))
            for _ in range(10)})
        t = _triples(spark, triples)
        terms = {x for s, _p, o in triples for x in (s, o)}

        def eval_steps(steps):
            result = None
            for st in steps:
                if isinstance(st, Alt):
                    edges = set()
                    for option in st.options:
                        edges |= eval_steps([option])
                    mod = st.mod
                elif isinstance(st, Group):
                    edges, mod = eval_steps(st.steps), st.mod
                else:
                    pr, mod = st
                    edges = {(s, o) for s, pp, o in triples if pp == pr}
                if mod == "plus":
                    edges = closure(edges)
                elif mod in ("star", "opt"):
                    if mod == "star":
                        edges = closure(edges)
                    edges |= {(x, x) for x in terms}
                result = (edges if result is None else
                          {(a, d) for a, b in result
                           for c, d in edges if b == c})
            return result

        def rand_alt():
            # one alternative: a group of 1-2 atom steps
            return Group(tuple((rng.choice(preds),
                                rng.choice(["one", "plus", "opt"]))
                               for _ in range(rng.randint(1, 2))))

        steps = [Alt(tuple(rand_alt() for _ in range(2)),
                     rng.choice(["one", "plus"]))
                 for _ in range(rng.randint(1, 2))]
        got = {tuple(r) for r in match_path(t, steps).collect()}
        assert got == eval_steps(steps), (case, steps)
        seed = rng.choice(sorted(terms))
        got_s = {tuple(r)
                 for r in match_path(t, steps, src=seed).collect()}
        assert got_s == {p for p in eval_steps(steps)
                         if p[0] == seed}, (case, steps, seed)


def test_seeded_path_depth_parity(spark):
    """ADVICE r7: the seeded tier's linear BFS budget scales to the
    doubling tier's covered diameter (2^(_MAX_ITERS-1)) — adding a
    ground endpoint to a long-chain query must not make it fail."""
    from cbor_ld_spark.operators.bgp import match_path

    n = 30  # > the old 20-layer seeded budget
    chain = [(f"c{i:02d}", "p", f"c{i+1:02d}") for i in range(n)]
    t = _triples(spark, chain)
    out = match_path(t, [("p", "plus")], src="c00")
    assert out.count() == n
    # both-ground across the whole chain (bidirectional tier)
    pair = match_path(t, [("p", "plus")], src="c00", dst=f"c{n:02d}")
    assert [tuple(r) for r in pair.collect()] == [("c00", f"c{n:02d}")]


def test_bidi_both_ground_semantics(spark):
    """Meet-in-the-middle both-ground evaluation (VERDICT r7 #6):
    plus needs depth>=1 (no zero-length hit), star's zero-length
    identity only holds for graph terms, sequences split at the
    midpoint."""
    from cbor_ld_spark.operators.bgp import match_path

    rows = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
            ("d", "r", "e"), ("u", "p", "u")]
    t = _triples(spark, rows)

    def hit(steps, s, d):
        return match_path(t, steps, src=s, dst=d).count() == 1

    assert hit([("p", "plus")], "a", "d")
    assert not hit([("p", "plus")], "d", "a")
    assert not hit([("p", "plus")], "a", "a")      # no cycle at a
    assert hit([("p", "plus")], "u", "u")          # self-loop cycle
    assert hit([("p", "star")], "a", "a")          # zero-length
    assert not hit([("p", "star")], "zz", "zz")    # not a graph term
    assert hit([("p", "plus"), ("r", "one")], "a", "e")
    assert not hit([("p", "plus"), ("r", "one")], "a", "d")
    assert hit([("p", "opt")], "a", "a")
    assert not hit([("p", "one")], "a", "c")


# Jobs per job group of each seeded-path query over the warm sf0.001
# triples tier, the highest count seen over several runs once each step
# read its frontier once (13 / 12 / 15 before).  A change may lower a
# count, never raise it.  Adaptive execution can vary a count between
# identical runs, so a count above its pin gets two more runs before it
# fails.
SEEDED_PATH_QUERY_JOBS = {
    "kg_path_truage_issuer": 9, "kg_sparql_path_type": 11,
    "kg_sparql_ask": 9,
}


@pytest.mark.parametrize("name", sorted(SEEDED_PATH_QUERY_JOBS))
def test_seeded_path_query_job_count_pinned(spark, name):
    import __spark_entry__ as entry
    from cbor_ld_spark.plans import shared_triples

    sf = "/root/testdata/sf0.001"
    shared_triples(spark, sf)
    sc = spark.sparkContext
    counts = []
    for attempt in range(3):
        group = f"test-{name}-jobs-{attempt}"
        sc.setJobGroup(group, group)
        try:
            entry.queries()[name](spark, sf).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if counts[-1] <= SEEDED_PATH_QUERY_JOBS[name]:
            break
    assert counts[-1] <= SEEDED_PATH_QUERY_JOBS[name], (name, counts)


def test_kg_query_rejects_variable_endpoints(spark, tmp_path):
    """kg_query takes no --path/--src/--dst: an endpoint is ground or a
    variable by its SPARQL spelling, so a '?var' can never seed the
    literal string (ADVICE r7); the old flags are a usage error."""
    import importlib.util
    import os

    t = _triples(spark, _DATA)
    tdir = str(tmp_path / "triples_g")
    t.write.parquet(tdir)
    spec = importlib.util.spec_from_file_location(
        "kg_query3", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs", "kg_query.py"))
    kg_query = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(kg_query)
    with pytest.raises(SystemExit):
        kg_query.main(["--triples", tdir, "--path", "<issuer>",
                       "--src", "?x"])


def test_sparql_minus_and_offset(spark):
    """MINUS (r8): the connected case, identical to FILTER NOT EXISTS
    (one left_anti); OFFSET composes with ORDER BY/LIMIT as the SPARQL
    slice (offset before limit, regardless of written order)."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    q = ('SELECT ?c ?i WHERE { ?c <issuer> ?i . '
         'MINUS { ?c <subject> ?s } }')
    ne = ('SELECT ?c ?i WHERE { ?c <issuer> ?i . '
          'FILTER NOT EXISTS { ?c <subject> ?s } }')
    got = {tuple(r) for r in run_sparql(t, q).collect()}
    assert got == {tuple(r) for r in run_sparql(t, ne).collect()}
    assert got == {("c3", "org1")}
    # disconnected MINUS: loud, never silently wrong
    with pytest.raises(ValueError, match="disconnected"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> ?i . '
                      'MINUS { ?x <age> ?y } }').collect()

    rows = [r["c"] for r in run_sparql(
        t, 'SELECT ?c WHERE { ?c <issuer> ?i } '
           'ORDER BY ?c LIMIT 2 OFFSET 1').collect()]
    assert rows == ["c2", "c3"]
    # OFFSET may precede LIMIT in the text — same slice
    rows2 = [r["c"] for r in run_sparql(
        t, 'SELECT ?c WHERE { ?c <issuer> ?i } '
           'ORDER BY ?c OFFSET 1 LIMIT 2').collect()]
    assert rows2 == rows
    with pytest.raises(ValueError, match="OFFSET needs an integer"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> ?i } OFFSET x')


def test_match_bgp_exists(spark):
    """exists= (r8): left_semi twin of not_exists — keep bindings the
    guard pattern matches; disconnected guard rejected loudly."""
    from cbor_ld_spark.operators.bgp import match_bgp

    t = _triples(spark, _DATA)
    out = match_bgp(t, [("?c", "issuer", "?i")],
                    exists=[("?c", "subject", "?s")])
    assert {tuple(r) for r in out.collect()} == {
        ("c1", "org1"), ("c2", "org2")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    with pytest.raises(ValueError, match="disconnected"):
        match_bgp(t, [("?c", "issuer", "?i")],
                  exists=[("?x", "age", "?y")]).collect()


def test_sparql_filter_exists(spark):
    """FILTER EXISTS (r8): complement of FILTER NOT EXISTS over the
    same group — the two partition the issuer bindings."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    base = 'SELECT ?c ?i WHERE { ?c <issuer> ?i %s }'
    pos = {tuple(r) for r in run_sparql(
        t, base % '. FILTER EXISTS { ?c <subject> ?s }').collect()}
    neg = {tuple(r) for r in run_sparql(
        t, base % '. FILTER NOT EXISTS { ?c <subject> ?s }').collect()}
    alls = {tuple(r) for r in run_sparql(t, base % '').collect()}
    assert pos == {("c1", "org1"), ("c2", "org2")}
    assert pos | neg == alls and not (pos & neg)


def test_sparql_subquery(spark):
    """SPARQL 1.1 §12 subqueries (r8): grouped sub joins on shared
    vars; scalar sub broadcast-cross-joins; outer FILTERs over
    sub-projected vars run post-join; misuse is loud."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    # grouped subquery joined on ?i, outer filter over the sub var
    q = '''SELECT ?c ?i ?n WHERE {
      ?c <issuer> ?i .
      { SELECT ?i (COUNT(?c2) AS ?n) WHERE { ?c2 <issuer> ?i }
        GROUP BY ?i }
      FILTER(n > 1)
    }'''
    assert {tuple(r) for r in run_sparql(t, q).collect()} == {
        ("c1", "org1", 2), ("c3", "org1", 2)}
    # scalar subquery: one row, broadcast cross join
    q2 = '''SELECT ?i ?total WHERE { ?c <issuer> ?i .
      { SELECT (COUNT(?c2) AS ?total) WHERE { ?c2 <issuer> ?i2 } } }'''
    out2 = run_sparql(t, q2)
    assert {tuple(r) for r in out2.collect()} == {
        ("org1", 3), ("org2", 3)}
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in plan
    # subquery-only WHERE group (binds + filters post-join)
    q3 = '''SELECT ?i ?big WHERE {
      { SELECT ?i (COUNT(?c) AS ?n) WHERE { ?c <issuer> ?i }
        GROUP BY ?i }
      BIND(n * 10 AS ?big)
      FILTER(big >= 20)
    }'''
    assert {tuple(r) for r in run_sparql(t, q3).collect()} == {
        ("org1", 20)}
    # non-scalar disconnected subquery: loud
    with pytest.raises(ValueError, match="shares no variable"):
        run_sparql(t, '''SELECT ?c WHERE { ?c <issuer> ?i .
          { SELECT ?p (COUNT(?x) AS ?m) WHERE { ?x <subject> ?p }
            GROUP BY ?p } }''').collect()
    # BIND over a sub-projected var on the BGP route: loud
    with pytest.raises(ValueError, match="bound only by a subquery"):
        run_sparql(t, '''SELECT ?c WHERE { ?c <issuer> ?i .
          { SELECT ?i (COUNT(?c2) AS ?n) WHERE { ?c2 <issuer> ?i }
            GROUP BY ?i }
          BIND(n + 1 AS ?m) }''').collect()
    # subqueries must be SELECT
    with pytest.raises(ValueError, match="SELECT"):
        run_sparql(t, '''SELECT ?c WHERE { ?c <issuer> ?i .
          { ASK { ?c <subject> ?s } } }''')


def test_sparql_nested_subquery(spark):
    """A subquery inside a subquery: issuers whose credential count
    beats the all-issuer average (grouped sub + scalar sub over a
    nested grouped sub)."""
    from cbor_ld_spark.operators.sparql import run_sparql

    q = '''SELECT ?i ?n WHERE {
      { SELECT ?i (COUNT(?c) AS ?n) WHERE { ?c <issuer> ?i }
        GROUP BY ?i }
      { SELECT (AVG(?m) AS ?avg) WHERE {
          { SELECT ?i2 (COUNT(?c2) AS ?m) WHERE { ?c2 <issuer> ?i2 }
            GROUP BY ?i2 } } }
      FILTER(n > avg)
    }'''
    out = run_sparql(_triples(spark, _DATA), q)
    assert {tuple(r) for r in out.collect()} == {("org1", 2)}


def test_sparql_order_by_expr(spark):
    """ORDER BY expressions (r8): DESC(expr)/ASC(expr)/(expr) over the
    projected vars; plain-var path and its missing-var error intact."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    rows = [tuple(r) for r in run_sparql(
        t, 'SELECT ?c ?i WHERE { ?c <issuer> ?i } '
           'ORDER BY DESC(concat(?i, ?c)) LIMIT 2').collect()]
    assert rows == [("c2", "org2"), ("c3", "org1")]
    rows2 = [r["c"] for r in run_sparql(
        t, 'SELECT ?c WHERE { ?c <issuer> ?i } '
           'ORDER BY (length(?c) * -1) ?c').collect()]
    assert rows2 == ["c1", "c2", "c3"]
    with pytest.raises(ValueError, match="ORDER BY vars"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> ?i } '
                      'ORDER BY ?zzz').collect()


def test_sparql_union_join(spark):
    """UNION composing with other WHERE members (r8): the union frame
    joins the BGP bindings on the shared vars; filters over union-only
    vars defer post-join; UNION-base groups take binds/filters; loud
    rejections for the unbound-compat corners."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    q = ('SELECT ?c ?w WHERE { ?c <issuer> "org1" . '
         '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } } '
         'ORDER BY ?c ?w')
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("c1", "org1"), ("c1", "p1"), ("c3", "org1")]
    # filter over a union-only var runs after the join
    q2 = ('SELECT ?c ?w WHERE { ?c <issuer> "org1" . '
          '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } '
          'FILTER(w = "p1") }')
    assert [tuple(r) for r in run_sparql(t, q2).collect()] == [
        ("c1", "p1")]
    # UNION as the base relation composes with BIND + FILTER
    q3 = ('SELECT ?c ?lab WHERE { '
          '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } '
          'BIND(concat(?c, "/", ?w) AS ?lab) FILTER(c = "c2") } '
          'ORDER BY ?lab')
    assert [r["lab"] for r in run_sparql(t, q3).collect()] == [
        "c2/org2", "c2/p2"]
    # UNION + subquery compose (join on the shared ?c)
    q4 = ('SELECT ?c ?w ?n WHERE { ?c <issuer> "org1" . '
          '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } '
          '{ SELECT ?c (COUNT(?p) AS ?n) WHERE { ?c ?p ?o } '
          '  GROUP BY ?c } }')
    assert sorted(tuple(r) for r in run_sparql(t, q4).collect()) == [
        ("c1", "org1", 2), ("c1", "p1", 2), ("c3", "org1", 1)]
    # loud: a branch not binding the shared join var
    with pytest.raises(ValueError, match="does not bind shared"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> "org1" . '
                      '{ ?c <subject> ?w } UNION { ?x <age> ?w } }')
    # loud: disconnected union block
    with pytest.raises(ValueError, match="shares no variable"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> "org1" . '
                      '{ ?x <subject> ?w } UNION { ?x <issuer> ?w } }')
    # loud: OPTIONAL / guard / BIND over union-only vars
    with pytest.raises(ValueError, match="OPTIONAL pattern references"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> "org1" . '
                      'OPTIONAL { ?w <age> ?a } '
                      '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } }')
    with pytest.raises(ValueError, match="BIND.*bound only by"):
        run_sparql(t, 'SELECT ?c WHERE { ?c <issuer> "org1" . '
                      'BIND(upper(?w) AS ?u) '
                      '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } }')
    # loud: only one UNION block per group
    with pytest.raises(ValueError, match="only one UNION block"):
        run_sparql(t, 'SELECT ?c WHERE { '
                      '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } '
                      '{ ?c <age> ?a } UNION { ?c <loves> ?a } }')
    # loud: UNION base with OPTIONAL needs a triple pattern
    with pytest.raises(ValueError, match="at least one triple"):
        run_sparql(t, 'SELECT ?c WHERE { '
                      '{ ?c <subject> ?w } UNION { ?c <issuer> ?w } '
                      'OPTIONAL { ?c <age> ?a } }')


def test_sparql_expr_builtins(spark):
    """SPARQL 1.1 §17 expression subset (r8): &&/||/!, BOUND, REGEX,
    STRSTARTS, STRLEN, UCASE, ?vars in FILTER — translated to Spark
    SQL; quoted literals opaque; RDF introspection and REGEX flags
    rejected loudly."""
    from cbor_ld_spark.operators.sparql import _devar, run_sparql

    # translation unit checks
    assert _devar('?a = "x?y" && !BOUND(?b)') == \
        'a = "x?y"  AND   NOT isnotnull(b)'
    assert _devar("REGEX(?s, '^ur,n')") == "rlike(s, '^ur,n')"
    assert _devar("STRSTARTS(STR(?x), 'u')") == \
        "startswith(string(x), 'u')"
    assert _devar('GROUP_CONCAT(?c; SEPARATOR=",")') == \
        'array_join(sort_array(collect_list(c)), ",")'
    assert _devar("GROUP_CONCAT(?c)") == \
        "array_join(sort_array(collect_list(c)), ' ')"
    assert _devar("SAMPLE(?c)") == "min(c)"
    # '<' is never opaque in an expression, even where it spells an IRI
    assert _devar("?a<?b&&?c>?d") == "a<b AND c>d"
    with pytest.raises(ValueError, match="REGEX flags"):
        _devar("REGEX(?s, 'p', 'i')")
    with pytest.raises(ValueError, match="LANG"):
        _devar("LANG(?s) = 'en'")

    t = _triples(spark, _DATA)
    q = ('SELECT ?c ?i WHERE { ?c <issuer> ?i . '
         'OPTIONAL { ?c <subject> ?s } '
         'FILTER(STRSTARTS(?i, "org") && !BOUND(?s)) }')
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("c3", "org1")]
    q2 = ('SELECT ?c ?u WHERE { ?c <issuer> ?i . '
          'BIND(UCASE(?i) AS ?u) FILTER(REGEX(?c, "^c[12]$")) } '
          'ORDER BY DESC(STRLEN(?c)) ?c')
    assert [tuple(r) for r in run_sparql(t, q2).collect()] == [
        ("c1", "ORG1"), ("c2", "ORG2")]


def test_sparql_group_concat_sample(spark):
    """GROUP_CONCAT (sorted, custom separator) and SAMPLE (min)
    aggregates in the projection."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, _DATA)
    q = ('SELECT ?i (GROUP_CONCAT(?c; SEPARATOR=",") AS ?creds) '
         '(SAMPLE(?c) AS ?one) WHERE { ?c <issuer> ?i } '
         'GROUP BY ?i ORDER BY ?i')
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("org1", "c1,c3", "c1"), ("org2", "c2", "c2")]


def test_filter_conjunct_split(spark):
    """Mixed filters split on top-level AND: optional-referencing
    conjuncts defer past the left join, the rest apply below it
    (plan-ordered), and 'AND' inside literals/parens stays intact."""
    from cbor_ld_spark.operators.bgp import _split_conjuncts, match_bgp
    from cbor_ld_spark.operators.sparql import run_sparql

    assert _split_conjuncts("a = 1 AND b = 2") == ["a = 1", "b = 2"]
    assert _split_conjuncts("(a AND b) OR c") == ["(a AND b) OR c"]
    assert _split_conjuncts("x = 'p AND q' AND y = 2") == \
        ["x = 'p AND q'", "y = 2"]
    assert _split_conjuncts("band = 1 AND sandy = 2") == \
        ["band = 1", "sandy = 2"]

    t = _triples(spark, _DATA)
    q = ('SELECT ?c ?i WHERE { ?c <issuer> ?i . '
         'OPTIONAL { ?c <subject> ?s } '
         'FILTER(STRSTARTS(?c, "c") && !BOUND(?s)) }')
    out = run_sparql(t, q)
    assert [tuple(r) for r in out.collect()] == [("c3", "org1")]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "Join" in ln)
    bound_at = next(i for i, ln in enumerate(lines)
                    if "Filter isnull(s#" in ln)
    starts_at = next(i for i, ln in enumerate(lines)
                     if "StartsWith" in ln)
    # top-down plan print: the deferred BOUND filter sits ABOVE the
    # left join, the pushable STRSTARTS conjunct BELOW it
    assert bound_at < join_at < starts_at, plan


def test_sparql_optional_path(spark):
    """Property paths inside OPTIONAL (r8): the path relation
    left-joins like an optional pattern frame; !BOUND composes;
    fully-ground rejected; guards still refuse paths."""
    from cbor_ld_spark.operators.sparql import run_sparql

    data = [("a", "knows", "b"), ("b", "knows", "c"),
            ("d", "age", "9"),
            ("a", "type", "P"), ("b", "type", "P"), ("d", "type", "P")]
    t = _triples(spark, data)
    q = ('SELECT ?p ?r WHERE { ?p <type> "P" . '
         'OPTIONAL { ?p <knows>+ ?r } } ORDER BY ?p ?r')
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("a", "b"), ("a", "c"), ("b", "c"), ("d", None)]
    q2 = ('SELECT ?p WHERE { ?p <type> "P" . '
          'OPTIONAL { ?p (<knows>/<knows>) ?r } FILTER(!BOUND(?r)) } '
          'ORDER BY ?p')
    assert [r["p"] for r in run_sparql(t, q2).collect()] == ["b", "d"]
    with pytest.raises(ValueError, match="fully-ground"):
        run_sparql(t, 'SELECT ?p WHERE { ?p <type> "P" . '
                      'OPTIONAL { <a> <knows>+ <c> } }')
    # guards accept paths since late r8 — NOT EXISTS of the closure
    out = run_sparql(t, 'SELECT ?p WHERE { ?p <type> "P" . '
                        'FILTER NOT EXISTS { ?p <knows>+ ?r } } '
                        'ORDER BY ?p')
    assert [r["p"] for r in out.collect()] == ["d"]


def test_sparql_path_guards_and_union(spark):
    """Property paths inside EXISTS / NOT EXISTS / MINUS guards and
    UNION branches (late r8): guard paths semi/anti-join their
    endpoint columns; union branches route paths to their branch
    plan's paths=."""
    from cbor_ld_spark.operators.sparql import run_sparql

    data = [("a", "knows", "b"), ("b", "knows", "c"),
            ("c", "knows", "a2"),
            ("a", "type", "P"), ("b", "type", "P"), ("d", "type", "P"),
            ("d", "likes", "a")]
    t = _triples(spark, data)
    base = 'SELECT ?p WHERE { ?p <type> "P" . %s } ORDER BY ?p'
    assert [r["p"] for r in run_sparql(
        t, base % 'FILTER EXISTS { ?p <knows>+ ?r }').collect()] == \
        ["a", "b"]
    assert [r["p"] for r in run_sparql(
        t, base % 'FILTER NOT EXISTS { ?p (<knows>/<knows>) ?r }'
        ).collect()] == ["d"]
    assert [r["p"] for r in run_sparql(
        t, base % 'MINUS { ?p <likes>|<knows> ?x }').collect()] == []
    q = ('SELECT ?p ?x WHERE { ?p <type> "P" . '
         '{ ?p <knows>+ ?x } UNION { ?p <likes> ?x } } ORDER BY ?p ?x')
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("a", "a2"), ("a", "b"), ("a", "c"),
        ("b", "a2"), ("b", "c"), ("d", "a")]
    # CONSTRUCT templates still refuse paths
    with pytest.raises(ValueError, match="CONSTRUCT templates"):
        run_sparql(t, 'CONSTRUCT { ?p <knows>+ ?x } '
                      'WHERE { ?p <type> "P" }')


def test_sparql_graph_clause(spark):
    """SPARQL §13.3 GRAPH (r8): quad patterns over NAMED graphs — a
    variable term binds the graph label shared across the group
    (co-location), a constant filters; default-graph triples ('')
    excluded; misuse loud."""
    from cbor_ld_spark.operators.sparql import run_sparql

    rows = [("s1", "p", "o1", "g1"), ("s2", "p", "o2", "g2"),
            ("s3", "p", "o3", ""),
            ("s1", "q", "x1", "g1"), ("s2", "q", "x2", "gOTHER"),
            ("g1", "src", "docA", ""), ("g2", "src", "docB", "")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj", "graph"])
    q = 'SELECT ?g ?s WHERE { GRAPH ?g { ?s <p> ?o } } ORDER BY ?g'
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("g1", "s1"), ("g2", "s2")]
    # co-location: both patterns must match inside the SAME graph
    q2 = 'SELECT ?s WHERE { GRAPH ?g { ?s <p> ?o . ?s <q> ?x } }'
    assert [r["s"] for r in run_sparql(t, q2).collect()] == ["s1"]
    # constant graph term
    assert [r["s"] for r in run_sparql(
        t, 'SELECT ?s WHERE { GRAPH <g2> { ?s <p> ?o } }'
        ).collect()] == ["s2"]
    # the graph variable joins ordinary default-graph patterns
    q3 = ('SELECT ?g ?d WHERE { GRAPH ?g { ?s <p> ?o } . '
          '?g <src> ?d } ORDER BY ?g')
    assert [tuple(r) for r in run_sparql(t, q3).collect()] == [
        ("g1", "docA"), ("g2", "docB")]
    with pytest.raises(ValueError, match="GRAPH needs a term"):
        run_sparql(t, 'SELECT ?s WHERE { GRAPH { ?s <p> ?o } }')
    with pytest.raises(ValueError, match="not allowed here"):
        run_sparql(t, 'SELECT ?s WHERE { GRAPH ?g { ?s <p>+ ?o } }')


def test_sparql_optional_group_unit(spark):
    """OPTIONAL group UNIT semantics (r8, SPARQL §18.5 LeftJoin):
    multi-member groups match as a whole or bind nothing — a partial
    match must NOT leak bindings; group-local FILTERs evaluate before
    the left join; outer-var filters loud."""
    from cbor_ld_spark.operators.sparql import run_sparql

    rows = [("x1", "p", "y1"), ("y1", "q", "z1"), ("x2", "p", "y2"),
            ("x1", "type", "T"), ("x2", "type", "T"),
            ("x3", "type", "T")]
    t = _triples(spark, rows)
    q = ('SELECT ?x ?y ?z WHERE { ?x <type> "T" . '
         'OPTIONAL { ?x <p> ?y . ?y <q> ?z } } ORDER BY ?x')
    # x2 has p->y2 but y2 has no q edge: the WHOLE group is unbound
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("x1", "y1", "z1"), ("x2", None, None), ("x3", None, None)]
    q2 = ('SELECT ?x ?y WHERE { ?x <type> "T" . '
          'OPTIONAL { ?x <p> ?y FILTER(y != "y2") } } ORDER BY ?x')
    assert [tuple(r) for r in run_sparql(t, q2).collect()] == [
        ("x1", "y1"), ("x2", None), ("x3", None)]
    # paths compose inside the group
    q3 = ('SELECT ?x ?z ?w WHERE { ?x <type> "T" . '
          'OPTIONAL { ?x (<p>/<q>) ?z . ?z <missing> ?w } } '
          'ORDER BY ?x')
    assert all(r["z"] is None for r in run_sparql(t, q3).collect())
    with pytest.raises(ValueError, match="outer variable"):
        run_sparql(t, 'SELECT ?x WHERE { ?x <type> "T" . ?x <p> ?o . '
                      'OPTIONAL { ?x <p> ?y FILTER(y != o) } }')
    with pytest.raises(ValueError, match="nested OPTIONAL"):
        run_sparql(t, 'SELECT ?x WHERE { ?x <type> "T" . '
                      'OPTIONAL { ?x <p> ?y OPTIONAL { ?y <q> ?z } } }')
    with pytest.raises(ValueError, match="empty OPTIONAL"):
        run_sparql(t, 'SELECT ?x WHERE { ?x <type> "T" . '
                      'OPTIONAL { FILTER(1=1) } }')


def test_sparql_describe(spark):
    """DESCRIBE (r8, SPARQL §16.4 — implementation-defined form:
    outgoing one-hop triples): groupless constants, WHERE-bound
    variables, mixed terms; unbound/groupless-var misuse loud."""
    from cbor_ld_spark.operators.sparql import run_sparql

    rows = [("a", "p", "1"), ("a", "q", "2"), ("b", "p", "3"),
            ("c", "r", "a"),
            ("a", "type", "T"), ("b", "type", "T")]
    t = _triples(spark, rows)
    assert sorted(tuple(r) for r in run_sparql(
        t, 'DESCRIBE <a>').collect()) == [
        ("a", "p", "1"), ("a", "q", "2"), ("a", "type", "T")]
    assert len(run_sparql(t, 'DESCRIBE <a> <b>').collect()) == 5
    got = sorted(tuple(r) for r in run_sparql(
        t, 'DESCRIBE ?x WHERE { ?x <type> "T" }').collect())
    assert got == [("a", "p", "1"), ("a", "q", "2"),
                   ("a", "type", "T"), ("b", "p", "3"),
                   ("b", "type", "T")]
    mixed = sorted(tuple(r) for r in run_sparql(
        t, 'DESCRIBE ?x <c> WHERE { ?x <type> "T" . '
           'FILTER(x = "a") }').collect())
    assert ("c", "r", "a") in mixed and len(mixed) == 4
    with pytest.raises(ValueError, match="needs a WHERE group"):
        run_sparql(t, 'DESCRIBE ?x')
    with pytest.raises(ValueError, match="not bound"):
        run_sparql(t, 'DESCRIBE ?z WHERE { ?x <type> "T" }')
    with pytest.raises(ValueError, match="at least one term"):
        run_sparql(t, 'DESCRIBE WHERE { ?x <type> "T" }')


def test_optional_group_python_replay(spark):
    """Random graphs: OPTIONAL-group unit semantics + !BOUND filter
    vs a pure-Python SPARQL §18.5 LeftJoin replay."""
    import random

    from cbor_ld_spark.operators.sparql import run_sparql

    rng = random.Random(20260818)
    for case in range(4):
        nodes = [f"n{i}" for i in range(6)]
        triples = sorted({
            (rng.choice(nodes), rng.choice(["p", "q", "r"]),
             rng.choice(nodes)) for _ in range(12)})
        t = _triples(spark, triples)
        # required ?a <p> ?b . OPTIONAL { ?b <q> ?c . ?c <r> ?d }
        outer = [(s, o) for s, p, o in triples if p == "p"]
        grp = sorted({(b, c, d)
                      for b2, p2, c in triples if p2 == "q"
                      for c2, p3, d in triples
                      if p3 == "r" and c2 == c
                      for b in [b2]})
        expect = set()
        for a, b in outer:
            hits = [(c, d) for b2, c, d in grp if b2 == b]
            if hits:
                expect.update((a, b, c, d) for c, d in hits)
            else:
                expect.add((a, b, None, None))
        q = ('SELECT ?a ?b ?c ?d WHERE { ?a <p> ?b . '
             'OPTIONAL { ?b <q> ?c . ?c <r> ?d } }')
        got = {tuple(r) for r in run_sparql(t, q).collect()}
        assert got == expect, (case, triples)
        # !BOUND over the group: exactly the padded rows
        q2 = ('SELECT ?a ?b WHERE { ?a <p> ?b . '
              'OPTIONAL { ?b <q> ?c . ?c <r> ?d } '
              'FILTER(!BOUND(?c)) }')
        got2 = {tuple(r) for r in run_sparql(t, q2).collect()}
        assert got2 == {(a, b) for a, b, c, _d in expect
                        if c is None}, case


def test_describe_and_graph_plan_shapes(spark):
    """Plan audits for the late-r8 forms: DESCRIBE compiles to one
    semi join; a constant GRAPH term reaches the quad scan as a
    filter (below the joins)."""
    from cbor_ld_spark.operators.sparql import run_sparql

    rows = [("a", "p", "1", "g1"), ("b", "p", "2", "g2"),
            ("a", "type", "T", "")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj", "graph"])
    d = run_sparql(t, 'DESCRIBE <a>')
    assert "LeftSemi" in \
        d._jdf.queryExecution().executedPlan().toString()
    g = run_sparql(t, 'SELECT ?s WHERE { GRAPH <g1> { ?s <p> ?o } }')
    plan = g._jdf.queryExecution().optimizedPlan().toString()
    assert "graph#" in plan and "g1" in plan  # constant in a Filter
    assert [r["s"] for r in g.collect()] == ["a"]


def test_sparql_prefix_and_a(spark):
    """PREFIX declarations (r8): declared prefixed names expand
    token-wise (patterns, paths); quoted literals and undeclared
    colon tokens (urn:, did:) untouched; 'a' is rdf:type shorthand
    in predicate position."""
    from cbor_ld_spark.operators.sparql import run_sparql

    RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    rows = [("c1", "http://ex/issuer", "o1"), ("c1", RT, "http://ex/Cred"),
            ("c2", "http://ex/issuer", "o2"),
            ("c2", RT, "http://ex/Other"), ("u", "urn:p", "v")]
    t = _triples(spark, rows)
    q = ('PREFIX ex: <http://ex/> '
         'SELECT ?c ?i WHERE { ?c a ex:Cred . ?c ex:issuer ?i }')
    assert [tuple(r) for r in run_sparql(t, q).collect()] == [
        ("c1", "o1")]
    # prefixed names inside a path alternation
    q2 = ('PREFIX ex: <http://ex/> '
          'SELECT ?c WHERE { ?c ex:issuer|ex:missing ?i } ORDER BY ?c')
    assert [r["c"] for r in run_sparql(t, q2).collect()] == [
        "c1", "c2"]
    # undeclared colon tokens pass through; literals opaque
    assert [r["s"] for r in run_sparql(
        t, 'SELECT ?s WHERE { ?s <urn:p> ?o }').collect()] == ["u"]
    q4 = ('PREFIX ex: <http://ex/> SELECT ?c WHERE '
          '{ ?c ex:issuer ?i . FILTER(?i != "ex:nope") }')
    assert len(run_sparql(t, q4).collect()) == 2
    with pytest.raises(ValueError, match="PREFIX needs"):
        run_sparql(t, "PREFIX ex <http://ex/> "
                      "SELECT ?c WHERE { ?c a ?t }")
    with pytest.raises(ValueError, match="needs a '<iri>'"):
        run_sparql(t, "PREFIX ex: http://ex/ "
                      "SELECT ?c WHERE { ?c a ?t }")


def test_guard_over_optional_introduced_var_rejected(spark):
    """r9 (ADVICE): a NOT EXISTS / EXISTS / MINUS guard that references
    a variable only an OPTIONAL will introduce used to join BEFORE the
    optional left joins, silently treating the variable as existential
    (wrong answers).  The subset now rejects it loudly."""
    from cbor_ld_spark.operators.bgp import match_bgp
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, [("s1", "p", "o1"), ("s1", "q", "y1"),
                         ("s1", "r", "y1")])
    with pytest.raises(ValueError, match="OPTIONAL-introduced"):
        match_bgp(t, [("?s", "p", "?o")],
                  optional=[("?s", "q", "?y")],
                  not_exists=[("?s", "r", "?y")]).collect()
    with pytest.raises(ValueError, match="OPTIONAL-introduced"):
        run_sparql(t, 'SELECT * WHERE { ?s <p> ?o . '
                      'OPTIONAL { ?s <q> ?y } '
                      'FILTER NOT EXISTS { ?s <r> ?y } }').collect()
    # a guard over an ALREADY-BOUND var stays supported
    ok = match_bgp(t, [("?s", "p", "?o")],
                   optional=[("?s", "q", "?y")],
                   not_exists=[("?s", "r", "?o")])
    assert ok.count() == 1


def test_prefixed_names_in_filter_bodies_stay_unexpanded():
    """r9 (ADVICE): FILTER/BIND/HAVING bodies are SQL expressions — the
    grammar documents prefixed names there as NOT expanded, but the
    expander used to rewrite them into '<iri>' anyway."""
    from cbor_ld_spark.operators.sparql import parse_sparql

    s = parse_sparql('PREFIX ex: <urn:ex:> SELECT * WHERE { '
                     '?s ex:p ?o . FILTER(?o = ex:Thing) }')
    assert s["patterns"] == [("?s", "urn:ex:p", "?o")]  # terms expand
    assert s["filters"] == ["o = ex:Thing"]             # bodies do not
    # bare-keyword form ('FILTER (...)' with a space) behaves the same
    s2 = parse_sparql('PREFIX ex: <urn:ex:> SELECT * WHERE { '
                      '?s ex:p ?o . FILTER (?o = ex:Thing) }')
    assert s2["filters"] == ["o = ex:Thing"]


def test_single_quoted_literal_with_paren_tokenizes():
    """r9 (ADVICE): the paren scanner treated only double quotes as
    opaque; a single-quoted SQL literal containing ')' mis-tokenized."""
    from cbor_ld_spark.operators.sparql import parse_sparql

    s = parse_sparql("SELECT * WHERE { ?s <urn:p> ?o . "
                     "FILTER(?o = 'a) b') }")
    assert s["filters"] == ["o = 'a) b'"]


def test_values_undef_plus_concrete_no_duplicates(spark):
    """r9 (ADVICE): a bound var matching both a concrete VALUES row and
    an UNDEF row duplicated the binding; with SELECT * no projection
    distinct ran, leaking duplicates past the documented set-semantics
    invariant."""
    from cbor_ld_spark.operators.sparql import run_sparql

    t = _triples(spark, [("s1", "p", "x"), ("s2", "p", "z")])
    out = run_sparql(t, 'SELECT * WHERE { ?s <p> ?o . '
                        'VALUES (?o) { ("x") (UNDEF) } }')
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [("s1", "x"), ("s2", "z")]
