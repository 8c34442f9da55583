"""Graph analytics: PageRank + k-hop on hand-checkable graphs."""

import pytest
from pyspark.sql import functions as F

from cbor_ld_spark.operators.graph import (
    _pagerank_loop, pagerank, personalized_pagerank)


def _loop_pagerank(edges, iters=5, damping=0.85, round_to=6,
                   redistribute_dangling=False):
    return _pagerank_loop(edges.localCheckpoint(), iters, damping, round_to,
                          redistribute_dangling=redistribute_dangling)


def _loop_ppr(edges, seeds, iters=5, damping=0.85, round_to=6):
    return _pagerank_loop(edges.localCheckpoint(), iters, damping, round_to,
                          seeds=seeds)


# Both paths of the hybrid PageRank operators: the public operators keep
# these small graphs on the driver; the loops are the distributed path.
PAGERANK = {"driver": pagerank, "spark": _loop_pagerank}
PPR = {"driver": personalized_pagerank, "spark": _loop_ppr}


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_pagerank_star(spark):
    """Star a->c, b->c, c->a: c has two inbound, a one, b none.
    Hand-checked 1-iteration values from rank_0 = 1/3:
    a = 0.05 + 0.85*(1/3); b = 0.05; c = 0.05 + 0.85*(2/3)."""
    e = _edges(spark, [("a", "c"), ("b", "c"), ("c", "a")])
    for path, pr in PAGERANK.items():
        r1 = _ranks(pr(e, iters=1, round_to=6))
        assert r1 == {"a": round(0.05 + 0.85 / 3, 6),
                      "b": 0.05,
                      "c": round(0.05 + 0.85 * 2 / 3, 6)}, path
        # more iterations keep the ordering and stay a distribution-ish set
        r5 = _ranks(pr(e, iters=5))
        assert r5["c"] > r5["a"] > r5["b"], path


def test_pagerank_cycle_uniform(spark):
    """A pure cycle is stationary at 1/N for every damping/iters."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    for path, pr in PAGERANK.items():
        ranks = set(_ranks(pr(e, iters=7)).values())
        assert ranks == {round(1 / 3, 6)}, path


def test_k_hop_layers_and_multi_seed(spark):
    """Chain a->b->c->d plus shortcut a->c: BFS first_hop layering must
    record c at hop 1 (not 2); multiple seeds batch in one dataflow."""
    from cbor_ld_spark.operators.graph import k_hop

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    seeds = spark.createDataFrame([("a",), ("b",)], "node string")
    got = {(r["root"], r["node"]): r["first_hop"]
           for r in k_hop(e, seeds, k=3).collect()}
    assert got == {
        ("a", "b"): 1, ("a", "c"): 1, ("a", "d"): 2,
        ("b", "c"): 1, ("b", "d"): 2,
    }


def test_k_hop_bounded_by_k(spark):
    from cbor_ld_spark.operators.graph import k_hop

    chain = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(6)])
    seeds = spark.createDataFrame([("n0",)], "node string")
    got = k_hop(chain, seeds, k=2).collect()
    assert {r["node"] for r in got} == {"n1", "n2"}
    assert max(r["first_hop"] for r in got) == 2


def test_entity_edges_iri_only(spark):
    from cbor_ld_spark.operators.graph import entity_edges

    t = spark.createDataFrame(
        [("s1", "p", "o1", True), ("s1", "p", "lit", False),
         ("s1", "p", "o1", True)],
        "subj string, pred string, obj string, obj_is_iri boolean")
    rows = entity_edges(t).collect()
    assert [(r["src"], r["dst"]) for r in rows] == [("s1", "o1")]


def test_pagerank_dangling_redistribution_sums_to_one(spark):
    """redistribute_dangling=True conserves rank mass: sums stay ~1.0
    every iteration even with out-degree-0 nodes (b, d are dangling);
    the default variant leaks that mass (sum < 1)."""
    e = _edges(spark, [("a", "b"), ("a", "d"), ("c", "b"), ("c", "a")])
    for path, pr in PAGERANK.items():
        for iters in (1, 3, 5):
            redis = pr(e, iters=iters, redistribute_dangling=True)
            total = sum(_ranks(redis).values())
            assert abs(total - 1.0) < 1e-4, (path, iters, total)
        dropped = sum(_ranks(pr(e, iters=3)).values())
        assert dropped < 1.0 - 1e-3, path


def test_pagerank_dangling_matches_reference_replay(spark):
    """Hand-replay of 2 redistributed iterations on the star graph
    (b dangling): every value matches the Spark dataflow to round-6."""
    edges = [("a", "c"), ("b", "c"), ("c", "a")]  # b -> c makes b non-dangling
    # replay in pure python
    nodes = sorted({x for p in edges for x in p})
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    n = len(nodes)
    ranks = {v: 1.0 / n for v in nodes}
    d = 0.85
    for _ in range(2):
        dm = sum(r for v, r in ranks.items() if v not in out_deg)
        base = (1 - d) / n + d * dm / n
        inbound = {v: 0.0 for v in nodes}
        for s, t in edges:
            inbound[t] += ranks[s] / out_deg[s]
        ranks = {v: base + d * inbound[v] for v in nodes}
    for path, pr in PAGERANK.items():
        got = _ranks(pr(_edges(spark, edges), iters=2,
                        redistribute_dangling=True))
        assert got == {v: round(r, 6) for v, r in ranks.items()}, path


def test_k_hop_plan_single_anti_join_per_hop(spark):
    """The visited-set rework keeps the join count linear in k: one
    left_anti per hop in the final plan, not one per (hop, layer)."""
    from cbor_ld_spark.operators.graph import k_hop

    chain = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(12)])
    seeds = spark.createDataFrame([("n0",)], "node string")
    k = 6
    out = k_hop(chain, seeds, k=k)
    got = {r["node"]: r["first_hop"] for r in out.collect()}
    assert got == {f"n{i}": i for i in range(1, k + 1)}
    # the returned frame is a filter over the checkpointed visited set —
    # all per-hop work already ran, one materializing job per hop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert "LeftAnti" not in plan, plan


def test_triangle_stats_hand_checked(spark):
    """K4 (4 triangles, clustering 1.0), a path (0), and a hub graph
    where degree-ordered orientation must still count each triangle
    exactly once."""
    from cbor_ld_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    r = triangle_stats(_edges(spark, k4)).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["global_clustering"] == 1.0  # 3*4 / 12 wedges

    path = [("a", "b"), ("b", "c"), ("c", "d")]
    r = triangle_stats(_edges(spark, path)).collect()[0]
    assert r["n_triangles"] == 0 and r["n_wedges"] == 2
    assert r["global_clustering"] == 0.0

    # hub h connected to x0..x5, plus one closing edge x0-x1: exactly 1
    # triangle; wedges = C(6,2)=15 at the hub + C(2,2->1) at x0 and x1
    hub = [("h", f"x{i}") for i in range(6)] + [("x0", "x1")]
    r = triangle_stats(_edges(spark, hub)).collect()[0]
    assert r["n_triangles"] == 1 and r["n_wedges"] == 17
    # direction/duplicate/self-loop invariance
    noisy = hub + [("x3", "h"), ("h", "h"), ("x0", "x1")]
    r2 = triangle_stats(_edges(spark, noisy)).collect()[0]
    assert (r2["n_triangles"], r2["n_wedges"]) == (1, 17)


def test_triangle_stats_matches_bruteforce(spark):
    """Random graph vs itertools brute force."""
    import itertools
    import random

    from cbor_ld_spark.operators.graph import triangle_stats

    rng = random.Random(42)
    nodes = [f"n{i}" for i in range(18)]
    und = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)}
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    expect = sum(1 for x, y, z in itertools.combinations(sorted(nodes), 3)
                 if y in adj[x] and z in adj[x] and z in adj[y])
    r = triangle_stats(_edges(spark, sorted(und))).collect()[0]
    assert r["n_triangles"] == expect
    assert r["n_edges"] == len(und)


def test_neighborhood_overlap_hand_checked(spark):
    """Two nodes tied to the same hub set are merge candidates even
    with no direct edge; the degree-ratio prune must not drop pairs
    that pass the threshold."""
    from cbor_ld_spark.operators.graph import neighborhood_overlap

    # p and q share neighbors {h1, h2}; r touches only h1 plus noise n1
    e = _edges(spark, [
        ("p", "h1"), ("p", "h2"),
        ("q", "h1"), ("q", "h2"),
        ("r", "h1"), ("r", "n1"),
    ])
    got = {(x["node_a"], x["node_b"]):
           (x["common_neighbors"], x["jaccard"])
           for x in neighborhood_overlap(e, threshold=0.5).collect()}
    # p,q: common {h1,h2}, deg 2+2 -> jaccard 2/(2+2-2) = 1.0
    assert got[("p", "q")] == (2, 1.0)
    # h1,h2: common {p,q}, deg h1=3, h2=2 -> 2/(3+2-2) ~ 0.667
    assert got[("h1", "h2")] == (2, 0.666667)
    # p,r / q,r: common {h1} -> 1/(2+2-1) = 1/3 < 0.5: excluded
    assert ("p", "r") not in got and ("q", "r") not in got
    # full jaccard sweep vs brute force at threshold 0
    import itertools
    adj = {}
    for a, b in [("p", "h1"), ("p", "h2"), ("q", "h1"), ("q", "h2"),
                 ("r", "h1"), ("r", "n1")]:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for x, y in itertools.combinations(sorted(adj), 2):
        c = len(adj[x] & adj[y])
        if c:
            expect[(x, y)] = (c, round(c / (len(adj[x]) + len(adj[y]) - c), 6))
    got0 = {(x["node_a"], x["node_b"]):
            (x["common_neighbors"], x["jaccard"])
            for x in neighborhood_overlap(e, threshold=1e-9).collect()}
    assert got0 == expect


def test_pagerank_weighted_vs_unrolled(spark):
    """Weighted PageRank on a hand graph: a->b (weight 3), a->c (1) —
    a's mass splits 3:1; unit weights must equal the unweighted path."""
    w = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "a", 1)],
        "src string, dst string, weight long")
    uw = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
        "src string, dst string, weight long")
    u = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    for path, pr in PAGERANK.items():
        got = _ranks(pr(w, iters=1))
        # rank_0 = 1/3; base = 0.05; a gets b's full 1/3, b gets 3/4 of
        # a's 1/3, c gets 1/4 of it
        assert got == {"a": round(0.05 + 0.85 / 3, 6),
                       "b": round(0.05 + 0.85 * 0.75 / 3, 6),
                       "c": round(0.05 + 0.85 * 0.25 / 3, 6)}, path
        # unit weights == unweighted
        assert _ranks(pr(uw, iters=4)) == _ranks(pr(u, iters=4)), path


def test_personalized_pagerank_hand_checked(spark):
    """Seed-restricted teleport: with seed {a} on a->c, b->c, c->a,
    one iteration gives a=0.15 (teleport only), c=0.85, b=0; mass is
    conserved (sums to 1.0 every iteration)."""
    e = _edges(spark, [("a", "c"), ("b", "c"), ("c", "a")])
    seeds = spark.createDataFrame([("a",)], "node string")
    ghost = spark.createDataFrame([("zz",)], "node string")
    for path, ppr in PPR.items():
        r1 = _ranks(ppr(e, seeds, iters=1))
        assert r1 == {"a": 0.15, "b": 0.0, "c": 0.85}, path
        for iters in (2, 5):
            total = sum(_ranks(ppr(e, seeds, iters=iters)).values())
            assert abs(total - 1.0) < 1e-4, (path, iters)
        # seeds outside the graph contribute nothing; empty effective
        # seed set returns an empty frame
        assert ppr(e, ghost).count() == 0, path


def test_hits_hand_checked_and_normalized(spark):
    """Star: a->c, b->c, c->a.  c is the only strong authority; a and b
    are the hubs pointing at it; both vectors stay L2-normalized."""
    from cbor_ld_spark.operators.graph import hits

    e = _edges(spark, [("a", "c"), ("b", "c"), ("c", "a")])
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(e, iters=5).collect()}
    assert got["c"][1] == max(v[1] for v in got.values())  # top authority
    assert got["a"][0] == got["b"][0]  # symmetric hubs
    assert abs(sum(v[0] ** 2 for v in got.values()) - 1.0) < 1e-3
    assert abs(sum(v[1] ** 2 for v in got.values()) - 1.0) < 1e-3


def test_iterative_graph_plans_stay_bounded(spark):
    """Regression for the exponential-plan bug: persist does not cut
    lineage, so the plan doubled (pagerank/ppr) or quadrupled (hits)
    per iteration — hits OOM'd at iters=4 on a 200-edge graph.  With
    per-iteration localCheckpoint, doubling the iteration count must
    not blow up the result plan."""
    from cbor_ld_spark.operators.graph import hits

    e = _edges(spark, [(f"n{i}", f"n{(i * 7) % 50}") for i in range(200)])
    # the distributed loop, whose plan this bounds
    p5 = len(_loop_pagerank(e, iters=5)._jdf.queryExecution().toString())
    p10 = len(_loop_pagerank(e, iters=10)._jdf.queryExecution().toString())
    assert p10 < p5 * 2, (p5, p10)  # constant-size checkpoint scans
    h6 = hits(e, iters=6)  # would OOM before the fix
    assert h6.count() == 200


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA converges to two
    communities (or one if the bridge wins — deterministic either way);
    verify against a pure-Python replay of the same rule."""
    from collections import Counter

    from cbor_ld_spark.operators.graph import label_propagation

    pairs = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
             ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
             ("a3", "b1")]
    got = {r["node"]: r["label"]
           for r in label_propagation(_edges(spark, pairs), iters=5).collect()}
    # replay
    und = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({x for p in pairs for x in p})
    adj = {v: set() for v in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    label = {v: v for v in nodes}
    for _ in range(5):
        new = {}
        for v in nodes:
            freq = Counter(label[u] for u in adj[v])
            top = max(freq.values())
            new[v] = min(l for l, c in freq.items() if c == top)
        label = new
    assert got == label
    # the two triangle cores must share a label within each clique
    assert got["a1"] == got["a2"] == got["a3"]
    assert got["b2"] == got["b3"]


def test_neighborhood_overlap_lsh_matches_exact_on_twins(spark):
    """Nodes with IDENTICAL neighborhoods (j=1.0) always collide in
    every band, so the LSH tier's output equals the exact tier's on a
    graph whose qualifying pairs are all exact twins."""
    from cbor_ld_spark.operators.graph import (
        neighborhood_overlap,
        neighborhood_overlap_lsh,
    )

    # t1/t2 are twins via {a, b, c}; d is background noise
    e = _edges(spark, [
        ("t1", "a"), ("t1", "b"), ("t1", "c"),
        ("t2", "a"), ("t2", "b"), ("t2", "c"),
        ("d", "a"), ("d", "x"), ("d", "y"), ("d", "z"),
    ])
    exact = {(r["node_a"], r["node_b"], r["common_neighbors"], r["jaccard"])
             for r in neighborhood_overlap(e, threshold=0.5).collect()}
    lsh = {(r["node_a"], r["node_b"], r["common_neighbors"], r["jaccard"])
           for r in neighborhood_overlap_lsh(e, threshold=0.5).collect()}
    assert ("t1", "t2", 3, 1.0) in exact
    assert lsh == exact


def test_neighborhood_overlap_lsh_megahub_candidates_bounded(spark):
    """The r4/r5-flagged scale scenario: a degree-10^4 hub.  The exact
    wedge join materializes C(10^4, 2) ~ 5e7 candidate rows for the hub
    center alone; the LSH tier's candidates must be orders of magnitude
    fewer (leaves share ONLY the hub, j = 1/15 -> per-pair collision
    ~0.24%), while still finding every true twin pair exactly."""
    from cbor_ld_spark.operators.graph import (
        adjacency_lsh_candidates,
        neighborhood_overlap_lsh,
    )

    n_leaves, k_priv = 10_000, 7
    rows = []
    for i in range(n_leaves):
        rows.append(("hub", f"l{i:05d}"))
        for j in range(k_priv):
            rows.append((f"l{i:05d}", f"p{i:05d}_{j}"))
    e = spark.createDataFrame(rows, "src string, dst string")

    _sym, cands = adjacency_lsh_candidates(e)
    n_cands = cands.count()
    full_fanout = n_leaves * (n_leaves - 1) // 2
    # expected ~1.2e5; assert two orders of magnitude below the wedge
    # fan-out with slack for hash luck
    assert n_cands < full_fanout / 50, (n_cands, full_fanout)

    out = neighborhood_overlap_lsh(e, threshold=0.5)
    # true qualifying pairs: the C(7,2)=21 same-leaf private twins per
    # leaf (identical one-element neighborhoods, j=1.0) — identical
    # signatures collide in every band, so recall there is exactly 1
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("jaccard").alias("jmin"),
        F.max("jaccard").alias("jmax")).collect()[0]
    assert agg["n"] == n_leaves * (k_priv * (k_priv - 1) // 2)
    assert agg["jmin"] == 1.0 and agg["jmax"] == 1.0


def test_approx_neighborhood_function_chain_exact(spark):
    """On sets far below 2^lg_k the HLL sketches sit in exact
    (coupon-list) mode, so ANF on a 6-chain must equal the hand-checked
    neighborhood function: hop0 = 6, hop1 = 6+5, hop2 = 6+5+4."""
    from cbor_ld_spark.operators.graph import approx_neighborhood_function

    chain = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(5)])
    got = {r["hop"]: r["est_pairs"]
           for r in approx_neighborhood_function(chain, k=2).collect()}
    assert got == {0: 6, 1: 11, 2: 15}


def test_label_propagation_hub_salting_identical(spark):
    """A degree-10^4 hub forces the salted hot path; the community
    assignment must be bit-identical to the unsalted run (salting only
    re-routes messages, never changes the aggregate)."""
    from cbor_ld_spark.operators.graph import label_propagation

    rows = [("hub", f"l{i:05d}") for i in range(10_000)]
    # a small two-triangle community off to the side
    rows += [("x1", "x2"), ("x2", "x3"), ("x1", "x3")]
    e = spark.createDataFrame(rows, "src string, dst string")
    salted = {(r["node"], r["label"])
              for r in label_propagation(
                  e, iters=2, hub_degree_threshold=100).collect()}
    plain = {(r["node"], r["label"])
             for r in label_propagation(
                 e, iters=2, hub_degree_threshold=None).collect()}
    assert salted == plain
    # all leaves agree on one label (semi-synchronous LPA on a star
    # oscillates hub<->leaves in antiphase, but the leaf layer is
    # always uniform — that uniformity must survive the salted path)
    lbl = dict(plain)
    leaf_labels = {lbl[f"l{i:05d}"] for i in range(0, 10_000, 997)}
    assert len(leaf_labels) == 1


def test_anf_plan_stays_bounded(spark):
    """ANF is iterative too — the per-hop localCheckpoint must keep the
    sketch frame's plan constant-size as hops grow (same regression
    class as pagerank/hits)."""
    from cbor_ld_spark.operators.graph import approx_neighborhood_function

    e = _edges(spark, [(f"n{i}", f"n{(i * 7) % 50}") for i in range(200)])
    # the returned frame is a small createDataFrame, so probe the work
    # indirectly: doubling k must not blow runtime/plan — it returns
    # k+1 rows and completes
    out = approx_neighborhood_function(e, k=6)
    assert out.count() == 7


def test_k_core_hand_checked(spark):
    """Triangle abc (coreness 2) with tail d-a (coreness 1) and an
    isolated pair e-f (coreness 1); K4 all coreness 3."""
    from cbor_ld_spark.operators.graph import k_core_decomposition

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"),
                       ("a", "d"), ("e", "f"), ("g", "g")])
    got = {r["node"]: r["coreness"]
           for r in k_core_decomposition(e).collect()}
    # self-loop-only node g has no proper edges: dropped by the
    # undirected projection (the pipeline analytics tier re-keys it to
    # coreness 0 on the shared node set)
    assert got == {"a": 2, "b": 2, "c": 2, "d": 1, "e": 1, "f": 1}

    k4 = [(x, y) for x in "wxyz" for y in "wxyz" if x < y]
    got = {r["coreness"] for r in
           k_core_decomposition(_edges(spark, k4)).collect()}
    assert got == {3}


def test_k_core_matches_peeling_bruteforce(spark):
    """Random graph vs the classic sequential peeling algorithm."""
    import random

    from cbor_ld_spark.operators.graph import k_core_decomposition

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(24)]
    und = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # sequential peeling: repeatedly remove min-degree node
    deg = {v: len(ns) for v, ns in adj.items()}
    live = dict(adj)
    core = {}
    k = 0
    while live:
        v = min(live, key=lambda x: (deg[x], x))
        k = max(k, deg[v])
        core[v] = k
        for u in live[v]:
            if u in live and u != v:
                live[u].discard(v)
                deg[u] -= 1
        del live[v]
    got = {r["node"]: r["coreness"]
           for r in k_core_decomposition(_edges(spark, sorted(und))).collect()}
    assert got == core


def test_transitive_closure_chain_doubling(spark):
    """A 33-node chain (diameter 32) closes in <= 5 doubling rounds:
    max_iters=5 must suffice where frontier expansion would need 32."""
    from cbor_ld_spark.operators.graph import transitive_closure

    e = _edges(spark, [(f"n{i:02d}", f"n{i+1:02d}") for i in range(32)])
    out = transitive_closure(e, max_iters=6)
    assert out.count() == 32 * 33 // 2  # C(33,2) ordered pairs
    got = {(r["src"], r["dst"]) for r in out.collect()}
    assert ("n00", "n32") in got and ("n32", "n00") not in got


def test_transitive_closure_cycle_and_diamond(spark):
    from cbor_ld_spark.operators.graph import transitive_closure

    # 3-cycle: every ordered pair incl. self-reachability
    cyc = transitive_closure(_edges(spark, [("a", "b"), ("b", "c"),
                                            ("c", "a")]))
    assert {(r["src"], r["dst"]) for r in cyc.collect()} == {
        (x, y) for x in "abc" for y in "abc"}
    # diamond a->{b,c}->d: no b<->c path
    dia = transitive_closure(_edges(spark, [("a", "b"), ("a", "c"),
                                            ("b", "d"), ("c", "d")]))
    got = {(r["src"], r["dst"]) for r in dia.collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"),
                   ("b", "d"), ("c", "d")}


def test_transitive_closure_max_iters_loud(spark):
    from cbor_ld_spark.operators.graph import transitive_closure

    import pytest

    e = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(8)])
    with pytest.raises(RuntimeError, match="converge"):
        transitive_closure(e, max_iters=1)


def test_k_core_mega_hub_histogram_tier(spark):
    """10^4-degree hub (r6 VERDICT #3): the capped-histogram h-index
    must produce the exact peeling coreness — hub+leaves coreness 1,
    the attached K5 coreness 4 — and converge in few rounds.  The
    histogram plan's skew property (map-side combine; <= cap+1 rows
    per node in the window) is structural; this pins the VALUES."""
    from cbor_ld_spark.operators.graph import k_core_decomposition

    hub = [("hub", f"leaf{i}") for i in range(10_000)]
    k5 = [(x, y) for x in ["hub", "k1", "k2", "k3", "k4"]
          for y in ["hub", "k1", "k2", "k3", "k4"] if x < y]
    got = {r["node"]: r["coreness"]
           for r in k_core_decomposition(
               _edges(spark, hub + k5)).collect()}
    assert got["hub"] == 4
    assert all(got[f"k{i}"] == 4 for i in range(1, 5))
    assert all(got[f"leaf{i}"] == 1 for i in range(0, 10_000, 997))
    assert len(got) == 10_005


def test_effective_diameter(spark):
    """90%-effective diameter from the saturated ANF curve: chain of 6
    (sat hop 5; 90% of pairs within 4 hops -> eff 4 for this exact
    curve), plus a star (eff 1) and the empty graph."""
    from cbor_ld_spark.operators.graph import effective_diameter

    chain = [(f"c{i}", f"c{i+1}") for i in range(5)]
    eff, sat, curve = effective_diameter(_edges(spark, chain))
    # exact curve (HLL exact at these cardinalities): cum totals
    # 6,11,15,18,20,21 -> threshold 0.9*21=18.9 -> first h with
    # curve[h]*10 >= 9*21=189 is h=4 (20*10=200)
    assert (eff, sat) == (4, 5) and curve == [6, 11, 15, 18, 20, 21]

    star = [("hub", f"s{i}") for i in range(20)]
    eff_s, sat_s, _ = effective_diameter(_edges(spark, star))
    assert (eff_s, sat_s) == (1, 1)

    empty = spark.createDataFrame([], "src string, dst string")
    assert effective_diameter(empty) == (0, 0, [0])

    import pytest as _p
    with _p.raises(RuntimeError, match="still growing"):
        effective_diameter(_edges(spark, chain), max_hops=3)


def test_pagerank_plan_no_python_no_kernel_rerun(spark):
    """PageRank iterations run on the localCheckpoint'd edge/node frames:
    the final plan contains no Python stages and scans checkpointed
    RDDs, never the original lineage."""
    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 50}") for i in range(200)],
        "src string, dst string")
    pr = _loop_pagerank(e, iters=3)  # the distributed loop
    plan = pr._jdf.queryExecution().executedPlan().toString()
    # result frame is itself a checkpoint scan: iterations already ran
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "MapInArrow" not in plan


def test_pagerank_driver_path_equals_distributed_loop(spark):
    """On 52 seeded random graphs the driver path (the public operators
    on these small graphs) and the distributed loop give the same
    rounded ranks, for plain, dangling-redistributed, weighted and
    personalized PageRank.  The graphs hold sinks, self-loops and
    dst-only nodes; the empty graph and null node ids are checked on
    both paths too."""
    import random

    def both(ops, *args, **kw):
        return (_ranks(ops["driver"](*args, **kw)),
                _ranks(ops["spark"](*args, **kw)))

    variants = ("plain", "dangling", "weighted", "personalized")
    rng = random.Random(20261019)
    for case in range(52):
        variant = variants[case % len(variants)]
        nodes = [f"v{i}" for i in range(rng.randint(2, 12))]
        pairs = {(rng.choice(nodes), rng.choice(nodes))
                 for _ in range(rng.randint(1, 30))}
        pairs.add((nodes[0], nodes[0]))  # a self-loop
        pairs |= {(rng.choice(nodes), f"sink{i}")  # dst-only nodes
                  for i in range(rng.randint(0, 3))}
        iters = rng.randint(1, 6)
        if variant == "weighted":
            e = spark.createDataFrame(
                [(s, d, rng.randint(1, 5)) for s, d in sorted(pairs)],
                "src string, dst string, weight long")
        else:
            e = _edges(spark, sorted(pairs))
        if variant == "personalized":
            seeds = spark.createDataFrame(
                [(v,) for v in rng.sample(nodes, min(3, len(nodes)))]
                + [("ghost",)], "node string")
            got, want = both(PPR, e, seeds, iters=iters)
        else:
            got, want = both(PAGERANK, e, iters=iters,
                             redistribute_dangling=variant == "dangling")
        assert got == want and got, (case, variant, sorted(pairs))

    empty = _edges(spark, [])
    seeds = spark.createDataFrame([("a",)], "node string")
    for path in PAGERANK:
        assert PAGERANK[path](empty).count() == 0, path
        assert PPR[path](empty, seeds).count() == 0, path
    # a null id is a node of its own that neither sends nor receives
    nulls = _edges(spark, [("a", "b"), ("b", None), (None, "a"),
                           ("b", "a")])
    for dangling in (False, True):
        got, want = both(PAGERANK, nulls, redistribute_dangling=dangling)
        assert got == want and len(got) == 3, (dangling, got, want)


def test_kg_pagerank_runs_in_three_jobs(spark):
    """``kg_pagerank`` over the warm sf0.001 entity tier runs the gate's
    checkpoint-and-count, the Arrow collect and the top-25 collect: 3
    jobs in its job group, where the distributed loop ran 46."""
    import __spark_entry__ as entry
    from cbor_ld_spark.plans import shared_entity_edges

    sf = "/root/testdata/sf0.001"
    shared_entity_edges(spark, sf)
    sc = spark.sparkContext
    group = "test-kg_pagerank-jobs"
    sc.setJobGroup(group, group)
    try:
        rows = entry.queries()["kg_pagerank"](spark, sf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 25
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_undirected_operators_ignore_direction_duplicates_self_loops(spark):
    """The undirected operators share one view of the graph: adding
    reversed, duplicated and self-loop edges between the same nodes
    changes none of their rows."""
    import random

    from cbor_ld_spark.operators.graph import (
        k_core_decomposition,
        label_propagation,
        neighborhood_overlap,
        triangle_stats,
    )

    rng = random.Random(20261019)
    nodes = [f"n{i:02d}" for i in range(20)]
    pairs = sorted({tuple(rng.sample(nodes, 2)) for _ in range(45)})
    used = sorted({x for p in pairs for x in p})
    noisy = (pairs + [(d, s) for s, d in rng.sample(pairs, 15)]
             + rng.sample(pairs, 10) + [(v, v) for v in rng.sample(used, 5)])
    rng.shuffle(noisy)

    def overlap(e):
        return neighborhood_overlap(e, threshold=0.2)

    for op in (triangle_stats, k_core_decomposition, label_propagation,
               overlap):
        clean = sorted(map(tuple, op(_edges(spark, pairs)).collect()))
        assert clean, op.__name__
        assert sorted(map(tuple, op(_edges(spark, noisy)).collect())) \
            == clean, op.__name__


# Jobs per job group of each graph query over the warm sf0.001 tiers, as
# the distributed loops ran them when the graph views were unified.  A
# change may lower a count, never raise it.  Adaptive execution makes
# kg_anf (70-72), kg_anf_diameter (72-75) and kg_kcore (36-38) vary from
# run to run; their pin is the highest count seen, and a count above it
# gets two more runs before it fails.
GRAPH_QUERY_JOBS = {
    "kg_hits": 94, "kg_anf": 72, "kg_anf_diameter": 75,
    "kg_communities": 54, "kg_kcore": 38, "kg_triangles": 22, "kg_ppr": 5,
    "kg_neighbor_overlap": 11, "kg_neighbor_overlap_lsh": 16,
    "kg_entity_components": 12,
}


@pytest.mark.parametrize("name", sorted(GRAPH_QUERY_JOBS))
def test_graph_query_job_count_pinned(spark, name):
    import __spark_entry__ as entry
    from cbor_ld_spark.plans import (
        shared_canonical_triples,
        shared_entity_edges,
    )

    sf = "/root/testdata/sf0.001"
    shared_entity_edges(spark, sf)
    shared_canonical_triples(spark, sf)
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
        if counts[-1] <= GRAPH_QUERY_JOBS[name]:
            break
    assert counts[-1] <= GRAPH_QUERY_JOBS[name], (name, counts)
