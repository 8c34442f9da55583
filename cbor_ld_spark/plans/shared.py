"""Session-scoped shared triples materialization.

At 100 TB the Python kernel pass (corpus -> parse/encode/verify/expand)
is the expensive stage, and its output — the triples table — is
materialized ONCE per corpus snapshot: ``jobs/build_kg.py`` writes it as
a checkpointed parquet stage, and every downstream graph consumer
(linking, PageRank, k-hop, canonicalization, analytics) reads that
materialization.  The same economics apply inside a multi-query session
(bench suite, correctness harness, a notebook): the graph-query family
shares one corpus->kernel->triples pass per (SparkContext, source dir)
instead of re-deriving it per query.

``localCheckpoint(eager=True)`` is the session-scale analogue of that
write: one materializing job, lineage cut (no kernel re-run on any
downstream action), blocks stored MEMORY_AND_DISK so a large tier
spills instead of OOMing, and the ContextCleaner reclaims the blocks
once the cache entry is dropped and GC'd.  Entries of stopped
SparkContexts are evicted on the next miss so a long-lived driver
process never pins dead-session storage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# (application id, tier, source dir) -> materialized frame
_TIERS: dict[tuple[str, str, str], DataFrame] = {}


def _tier(spark: SparkSession, tier: str, sf_dir: str,
          build: Callable[[], DataFrame]) -> DataFrame:
    """The memoized ``build()`` of one tier for this (session, corpus
    dir); a miss first evicts every entry of another SparkContext."""
    key = (spark.sparkContext.applicationId, tier, str(sf_dir))
    df = _TIERS.get(key)
    if df is None:
        for stale in [k for k in _TIERS if k[0] != key[0]]:
            _TIERS.pop(stale, None)
        df = build()
        _TIERS[key] = df
    return df


def shared_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-once triples table for this (session, corpus dir).

    Semantically identical to
    ``triples_table(process_corpus(corpus_from_documents(spark, sf_dir)))``
    — callers needing non-default kernel options must derive their own.
    """
    from cbor_ld_spark.operators import process_corpus, triples_table
    from cbor_ld_spark.sources import corpus_from_documents

    def build():
        t = triples_table(process_corpus(corpus_from_documents(spark, sf_dir)))
        # narrow the CHECKPOINT, not the kernel: the Python kernel stage
        # upstream runs at machine width (its own exchange), while the
        # checkpoint that ~30 downstream queries scan is coalesced to a
        # row-scaled width — a 32-partition checkpoint of a small tier
        # taxes every consumer's first stage with per-task overhead
        # (measured +0.3-0.5 s across the BGP/SPARQL family), while at
        # larger SFs the target grows with the corpus
        return t.coalesce(_tier_partitions(spark, sf_dir)) \
            .localCheckpoint(eager=True)

    return _tier(spark, "triples", sf_dir, build)


def _tier_partitions(spark: SparkSession, sf_dir: str,
                     rows_per_part: int = 1024) -> int:
    """Checkpoint width for the shared tiers: ~1k source docs per
    partition (each doc yields ~10 triples), clamped to the session
    parallelism; full width when the row count is unknowable."""
    from cbor_ld_spark.plans.partitioning import (
        input_partitions,
        parquet_rows,
    )

    cap = input_partitions(spark)
    n = parquet_rows(f"{sf_dir}/documents.parquet")
    if n is None:
        return cap
    return max(1, min(cap, -(-n // rows_per_part)))


def shared_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-once ``canonical_triples`` over the shared triples
    tier — the canonicalization mapInArrow pass is the second-most
    expensive stage after the kernel, and both the component histogram
    and the canonical-dedup counts consume its output."""
    from cbor_ld_spark.operators.canonicalize import canonical_triples

    # same narrow-checkpoint rationale as shared_triples, but via a
    # real repartition: a coalesce would collapse the (Python-heavy)
    # canonicalization mapInArrow stage itself, while the shuffle
    # moves only the small canonical triple rows once
    return _tier(spark, "canonical", sf_dir, lambda: (
        canonical_triples(shared_triples(spark, sf_dir))
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
    _TIERS.clear()
