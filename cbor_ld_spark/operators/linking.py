"""Entity linking: distributed connected components over IRI equivalence.

Cross-document entity identity comes from three signals: identical
``@id`` IRIs (equality is free — same string), explicit equivalence
predicates (``owl:sameAs``-style), and subject-object adjacency within
documents.  Components over that graph group triples into entities for
canonical labeling.

Algorithm: label propagation (min-label flooding) as iterative DataFrame
joins — the standard Spark-first CC formulation:

* labels start as the node id; each round every node takes the min of
  its neighbors' labels; converged when nothing changes.
* **Shuffle/skew**: the per-round aggregation is ``groupBy(node).min``,
  which gets map-side partial aggregation automatically — a hot node
  (mega-entity) combines locally before the shuffle, so no salting is
  needed for the agg.  The edges-to-labels join shuffles on the node
  key; AQE skew-join splitting handles hot keys
  (``spark.sql.adaptive.skewJoin.enabled``), and edges are pre-hash
  partitioned once and reused across iterations.
* Each round also pointer-jumps (component <- component's component), so
  convergence is O(log diameter) rounds, not O(diameter): a 2^25-hop
  chain converges within 25 rounds.  Credential graphs are star-shaped
  (diameter <= 4) and converge in 2-3 rounds; non-convergence raises
  instead of silently returning partial labels.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from cbor_ld_spark.operators.graph import DRIVER_GRAPH_EDGES, driver_sized

if TYPE_CHECKING:
    import pyarrow as pa

SAME_AS_PREDICATES = (
    "http://www.w3.org/2002/07/owl#sameAs",
    "https://schema.org/sameAs",
)


def equivalence_edges(triples: DataFrame) -> DataFrame:
    """Edge list (src, dst) for entity linking from the triples table."""
    same_as = (
        triples
        .filter(F.col("pred").isin(*SAME_AS_PREDICATES) & F.col("obj_is_iri"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    # Adjacency only where a blank node is involved: shared *vocabulary*
    # IRIs (rdf:type classes, proofPurpose values, ...) must not merge
    # unrelated documents into one mega-component; plain IRI identity is
    # already linkage (same IRI string = same node), and blank-node
    # clusters must attach to their named subjects for canonical
    # labeling.  rdf:type edges never carry identity.
    from cbor_ld_spark.kernel.expand import RDF_TYPE

    adjacency = (
        triples
        .filter(F.col("obj_is_iri") & (F.col("pred") != RDF_TYPE) &
                (F.col("subj").startswith("_:") |
                 F.col("obj").startswith("_:")))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    # named-graph membership: triples inside a (blank-node-named) graph
    # belong to the entity that references the graph
    membership = (
        triples
        .filter(F.col("graph").startswith("_:"))
        .select(F.col("graph").alias("src"), F.col("subj").alias("dst"))
    )
    return same_as.unionByName(adjacency).unionByName(membership).distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) edge list -> (id, component) with component = min node id.

    Deterministic: labels are node-id strings, min is lexicographic.  A
    null id takes the smallest component among its neighbours (null
    itself without one) but links nothing: a join never matches it.

    Hybrid execution, behind the same gate (``graph.driver_sized``) and
    threshold (``graph.DRIVER_GRAPH_EDGES``) as ``pagerank``: at or
    below it the graph fits the driver trivially and a union-find runs
    in milliseconds — iterative Spark jobs would pay seconds of
    scheduling per round for nothing.  Above it, the distributed
    label-propagation loop (``_cc_loop``) runs (the path that holds at
    10^12 scale); both paths produce identical output.
    """
    edges, table = driver_sized(edges, DRIVER_GRAPH_EDGES)
    if table is not None:
        return _driver_union_find(edges.sparkSession, table)
    return _cc_loop(edges, 25)


def _cc_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    """The distributed path of ``connected_components``: at most
    ``max_iter`` rounds of label propagation over ``edges``."""
    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # Symmetrize once; repartition by src so every iteration's join reuses
    # the same partitioning (exchange reuse).
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
        .distinct()
        .repartition(n_part, "src")
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .repartition(n_part, "id")
        .persist()
    )
    labels.count()

    changed = -1
    for i in range(max_iter):
        # neighbor-label messages + self label, min per node
        msgs = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"),
                    F.col("component"))
        )
        flooded = (
            msgs.unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: component <- component's component.  One extra
        # equi-join per round turns O(diameter) flooding into O(log d) —
        # long blank-node chains (rdf:List spines) converge in ~log2
        # rounds instead of one round per hop.  Every label is itself a
        # node id present in the frame, so the left join always matches.
        ptr = flooded.select(F.col("id").alias("p_id"),
                             F.col("component").alias("p_comp"))
        new_labels = (
            flooded.join(ptr, flooded.component == ptr.p_id, "left")
            .select("id",
                    F.coalesce("p_comp", "component").alias("component"))
        )
        # every third round cuts the plan; otherwise 10 iterations of
        # self-joins produce an exponential plan
        if (i + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint()
        else:
            new_labels = new_labels.persist()
        new_labels.count()  # materialize once; 'changed' then reuses it

        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        old = labels
        labels = new_labels
        old.unpersist()
        if changed == 0:
            break

    sym.unpersist()
    if changed != 0:
        # silently returning partial labels would mislabel components with
        # diameter > 2^max_iter; fail loudly instead (with pointer jumping
        # 25 rounds cover diameter ~2^25 — hitting this means a bug)
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations")
    # hand the caller a ContextCleaner-managed frame and release the
    # loop's pinned cache (callers can't unpersist an internal handle)
    result = labels.localCheckpoint()
    labels.unpersist()
    return result


def _driver_union_find(spark, edges: pa.Table) -> DataFrame:
    """Exact union-find on the edge table ``driver_sized`` collected
    (small-graph fast path), with ``_cc_loop``'s rows for a null id."""
    parent: dict[str, str] = {}
    null_nbrs: list[str | None] = []  # one entry per edge at a null id

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in zip(edges.column("src").to_pylist(),
                        edges.column("dst").to_pylist()):
        if src is None or dst is None:
            other = dst if src is None else src
            null_nbrs.append(other)
            if other is not None:
                parent.setdefault(other, other)
            continue
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        rs, rd = find(src), find(dst)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)

    rows = [(node, find(node)) for node in parent]
    if null_nbrs:
        roots = [find(x) for x in null_nbrs if x is not None]
        rows.append((None, min(roots, default=None)))
    return spark.createDataFrame(rows, "id string, component string")


def link_entities(triples: DataFrame) -> DataFrame:
    """triples -> (id, component) for every IRI/bnode node in the graph."""
    comp = connected_components(equivalence_edges(triples))
    # nodes that never appear in an edge are their own component
    all_nodes = (
        triples.select(F.col("subj").alias("id"))
        .unionByName(
            triples.filter(F.col("obj_is_iri")).select(F.col("obj").alias("id")))
        .distinct()
    )
    return (
        all_nodes.join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
