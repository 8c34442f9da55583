"""Session-scoped shared kernel, triples and graph tiers.

At 100 TB the Python kernel pass (corpus -> parse/encode/verify/expand)
is the expensive stage, and its output — the triples table — is
materialized ONCE per corpus snapshot: ``jobs/build_kg.py`` writes it as
a checkpointed parquet stage, and every downstream graph consumer
(linking, PageRank, k-hop, canonicalization, analytics) reads that
materialization.  The same economics apply inside a multi-query session
(bench suite, correctness harness, a notebook): every kernel consumer
shares one corpus->kernel pass per (SparkContext, source dir)
(``shared_docs``), and the graph-query family one triples tier derived
from it, instead of re-deriving them per query.

``localCheckpoint(eager=True)`` is the session-scale analogue of that
write: one materializing job, lineage cut (no kernel re-run on any
downstream action), blocks stored MEMORY_AND_DISK so a large tier
spills instead of OOMing, and the ContextCleaner reclaims the blocks
once the cache entry is dropped and GC'd.  Entries of stopped
SparkContexts are evicted on the next miss so a long-lived driver
process never pins dead-session storage.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# (application id, tier, source dir) -> materialized frame
_TIERS: dict[tuple[str, str, str], DataFrame] = {}
# one build lock per key; _GUARD covers both dicts' membership
_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}
_GUARD = threading.Lock()


def _tier(spark: SparkSession, tier: str, sf_dir: str,
          build: Callable[[], DataFrame]) -> DataFrame:
    """The memoized ``build()`` of one tier for this (session, corpus
    dir); a miss first evicts every entry of another SparkContext.

    Concurrent callers of one key wait on that key's lock, so the tier
    is built once; other keys build in parallel.  A build takes the
    locks of the tiers it derives from (triples -> docs), always in
    that one direction, so the nesting cannot deadlock."""
    key = (spark.sparkContext.applicationId, tier, str(sf_dir))
    with _GUARD:
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:
        df = _TIERS.get(key)
        if df is None:
            with _GUARD:
                for memo in (_TIERS, _LOCKS):
                    for stale in [k for k in memo if k[0] != key[0]]:
                        del memo[stale]
            df = build()
            with _GUARD:
                _TIERS[key] = df
    return df


def shared_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-once kernel pass for this (session, corpus dir): the
    per-document results of ``process_corpus(corpus_from_documents(
    spark, sf_dir), canonical=True)``.  Every kernel consumer of the
    session derives from it -- the doc-level queries read its flags, the
    triples tier explodes its triple columns and the canonical tier
    applies its blank-node maps -- so the corpus crosses the Python
    boundary once."""
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import corpus_from_documents

    # narrow the CHECKPOINT, not the kernel: the Python kernel stage
    # upstream runs at machine width (its own exchange), while the
    # checkpoint that the triples tier and ~30 downstream queries scan
    # is coalesced to a row-scaled width -- a 32-partition checkpoint of
    # a small tier taxes every consumer's first stage with per-task
    # overhead (measured +0.3-0.5 s across the BGP/SPARQL family),
    # while at larger SFs the target grows with the corpus
    return _tier(spark, "docs", sf_dir, lambda: process_corpus(
        corpus_from_documents(spark, sf_dir), canonical=True)
        .coalesce(_tier_partitions(spark, sf_dir))
        .localCheckpoint(eager=True))


def shared_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-once triples table for this (session, corpus dir):
    ``triples_table`` over ``shared_docs`` (and its width), semantically
    identical to
    ``triples_table(process_corpus(corpus_from_documents(spark, sf_dir)))``.
    """
    from cbor_ld_spark.operators import triples_table

    return _tier(spark, "triples", sf_dir, lambda: triples_table(
        shared_docs(spark, sf_dir)).localCheckpoint(eager=True))


# source docs per partition of a shared tier's checkpoint (each doc
# yields ~10 triples)
_DOCS_PER_TIER_PARTITION = 1024


def _tier_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Checkpoint width for the shared tiers: ``_DOCS_PER_TIER_PARTITION``
    source docs per partition, clamped to the session parallelism; full
    width when the row count is unknowable.

    Unlike the input spreads, this width is measured on 4 cores: an
    un-narrowed ``shared_docs`` checkpoint raised query_mix's set-up
    PSS from 1,693 to 1,862 MB."""
    from cbor_ld_spark.plans.partitioning import parquet_rows

    cap = spark.sparkContext.defaultParallelism
    n = parquet_rows(f"{sf_dir}/documents.parquet")
    if n is None:
        return cap
    return max(1, min(cap, -(-n // _DOCS_PER_TIER_PARTITION)))


def shared_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-once ``canonical_triples`` of the shared triples tier
    with the maps of ``shared_docs``; both the component histogram and
    the canonical-dedup counts consume it."""
    from cbor_ld_spark.operators import canonical_triples

    # same narrow-checkpoint rationale as shared_triples, via a
    # repartition of the relabeled rows
    return _tier(spark, "canonical", sf_dir, lambda: (
        canonical_triples(shared_triples(spark, sf_dir),
                          shared_docs(spark, sf_dir))
        .repartition(_tier_partitions(spark, sf_dir))
        .localCheckpoint(eager=True)))


def shared_entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-once distinct (src, dst) entity edges over the
    shared triples tier.  Every graph consumer (PageRank x4, k-hop,
    reachability, triangles, overlap x2, communities, k-core, ANF,
    HITS) starts from this frame; without the cache each re-runs the
    IRI filter + DISTINCT shuffle over the triples checkpoint per
    query.  One distinct, checkpointed, shared."""
    from cbor_ld_spark.operators.graph import entity_edges

    return _tier(spark, "edges", sf_dir, lambda: entity_edges(
        shared_triples(spark, sf_dir)).localCheckpoint(eager=True))


def clear_shared_triples() -> None:
    """Drop all cache entries (tests / explicit storage release)."""
    with _GUARD:
        _TIERS.clear()
