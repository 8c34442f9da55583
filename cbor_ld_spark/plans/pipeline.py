"""End-to-end KG build: materialize nodes/edges with lineage + resume.

Stage map (SURVEY.md §3.4):

  0 scan+filter   corpus scan, sniff filter, bucket assignment
  1-3 kernel      parse/encode/decode/verify/expand, plus each
                  document's URDNA-style blank-node label map (one
                  Arrow pass)
  4 canonicalize  per-document relabel from the kernel's maps (JVM)
  5 entity link   connected components over equivalence edges
  6 materialize   nodes/edges/docs/lineage tables

Checkpoint-resume contract (the 10^12-file requirement):

* Work is keyed by ``bucket = pmod(xxhash64(repo, path), n_buckets)`` —
  path-level hashing so a mega-repo spreads across buckets (skew
  salting built into the unit of work).
* The kernel stages write ``docs/`` (with each document's blank-node
  label map) and ``triples/`` (doc-scoped labels) partitioned BY
  bucket with dynamic partition overwrite: re-running a bucket replaces
  exactly its partition — idempotent under retry.
* After each bucket set commits, one lineage row per bucket is appended:
  ``(run_id, stage, bucket, rows_in, ok, err, triples, wall_ms)``.
* On resume, completed buckets are skipped via ``left_anti`` join of the
  input's bucket ids against the lineage table — only missing work runs.
* Graph-global stages (4-6) run after all buckets are present; they are
  deterministic functions of the triples and docs tables, so re-running
  them is idempotent by construction (full overwrite).

On a real deployment each parquet directory is an Iceberg table
(``writeTo(...).overwritePartitions()``); the layout below mirrors that
with plain parquet so the sandbox stays self-contained.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from cbor_ld_spark.operators.kg import (
    DOC_COLUMNS,
    canonical_triples,
    corpus_metrics,
    process_corpus,
    triples_table,
)
from cbor_ld_spark.operators.linking import link_entities

# the doc-level columns plus each document's blank-node label map
DOC_COLS = [*DOC_COLUMNS, "t_bnode", "t_canon"]

# explicit read schemas: a run whose every row quarantines writes an
# empty (schemaless) parquet dir; reads must still work for resume
TRIPLES_SCHEMA = ("subj string, pred string, obj string, obj_is_iri boolean, "
                  "obj_datatype string, obj_lang string, graph string, "
                  "repo string, path string, commit string, doc_sha string, "
                  "bucket int")
DOCS_SCHEMA = ("repo string, path string, commit string, doc_sha string, "
               "content_sha string, ok boolean, error string, "
               "error_kind string, json_len int, cbor_len int, "
               "roundtrip_ok boolean, n_triples int, "
               "t_bnode array<string>, t_canon array<string>, bucket int")


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)).cast("int"))


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    p = _lineage_path(out_dir)
    try:
        return spark.read.parquet(p)
    except Exception:
        return None


def build_kg(spark: SparkSession, repos: DataFrame, out_dir: str,
             run_id: str, n_buckets: int = 64,
             registry_id: int = 1, analytics: bool = False) -> dict:
    """Run (or resume) the full pipeline; returns summary metrics.

    ``analytics=True`` adds a fourth product tier after materialize:
    PageRank (dangling-redistributed), k-core coreness and
    label-propagation communities over the canonical entity graph,
    written under ``<out>/analytics/`` with their own lineage row —
    the consumption layer shipped with the graph instead of bolted on
    by every downstream user."""
    bucketed = _with_bucket(repos, n_buckets)

    # ---- resume: skip buckets already completed for this run ----
    lineage = read_lineage(spark, out_dir)
    if lineage is not None:
        done = (lineage.filter((F.col("run_id") == run_id) &
                               (F.col("stage") == "kernel"))
                .select("bucket").distinct())
        todo = bucketed.join(done, "bucket", "left_anti")
        skipped = True
    else:
        todo = bucketed
        skipped = False

    t0 = time.monotonic()
    processed = process_corpus(todo.drop("bucket"), registry_id=registry_id,
                               canonical=True)
    processed = _with_bucket(processed, n_buckets).persist()

    n_todo_docs = processed.count()
    # dynamic partition overwrite: only buckets present in this run's data
    # are replaced; an empty run touches nothing but keeps the dirs readable
    (processed.select(*DOC_COLS, "bucket")
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(os.path.join(out_dir, "docs")))
    (_with_bucket(triples_table(processed), n_buckets)
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(os.path.join(out_dir, "triples")))

    if n_todo_docs > 0:
        wall_ms = int((time.monotonic() - t0) * 1000)
        lineage_rows = (
            processed.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("rows_in"),
                 F.sum(F.col("ok").cast("long")).alias("ok_rows"),
                 F.sum((~F.col("ok")).cast("long")).alias("err_rows"),
                 F.sum("n_triples").alias("triples"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("stage", F.lit("kernel"))
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("committed_at", F.current_timestamp())
        )
        lineage_rows.write.mode("append").parquet(_lineage_path(out_dir))
    processed.unpersist()

    # ---- graph-global stages over the complete triples table ----
    all_triples = spark.read.schema(TRIPLES_SCHEMA).parquet(
        os.path.join(out_dir, "triples"))
    docs = spark.read.schema(DOCS_SCHEMA).parquet(os.path.join(out_dir, "docs"))
    # canonical labels first (the kernel's per-document maps), then
    # entity linking over the canonical graph so components name
    # canonical ids
    t1 = time.monotonic()
    canon_cached = canonical_triples(all_triples, docs).persist()
    n_canon = canon_cached.count()
    _stage_lineage(spark, out_dir, run_id, "canonicalize", n_canon, t1)

    t2 = time.monotonic()
    components = link_entities(canon_cached)
    comp_by_subj = (components.select(F.col("id").alias("subj"), "component")
                    .persist())
    n_linked = comp_by_subj.count()
    _stage_lineage(spark, out_dir, run_id, "link", n_linked, t2)

    canon = canon_cached.join(comp_by_subj, "subj", "left")

    t3 = time.monotonic()
    edges = edges_table(canon)
    nodes = nodes_table(canon)
    edges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    nodes.write.mode("overwrite").parquet(os.path.join(out_dir, "nodes"))

    # per-repo metrics table (monitoring/reporting product)
    (corpus_metrics(docs)
     .withColumn("run_id", F.lit(run_id))
     .write.mode("overwrite").parquet(os.path.join(out_dir, "metrics")))

    # the relabel's left joins are on keys unique per doc_sha and per
    # node id, and edges_table is a projection: the triples, the
    # canonical triples and the edges all have n_canon rows
    summary = {
        "run_id": run_id,
        "resumed": skipped,
        "docs_processed_this_run": n_todo_docs,
        "docs_total": docs.count(),
        "triples_total": n_canon,
        "nodes_total": spark.read.parquet(os.path.join(out_dir, "nodes")).count(),
        "edges_total": n_canon,
    }
    _stage_lineage(spark, out_dir, run_id, "materialize",
                   summary["edges_total"], t3)

    if analytics:
        t4 = time.monotonic()
        # one distinct entity-edge frame feeds all three analytics —
        # the job-level twin of plans/shared.shared_entity_edges
        ent = (edges.filter(F.col("obj_canon").isNotNull())
               .select(F.col("subj_canon").alias("src"),
                       F.col("obj_canon").alias("dst"))
               .distinct()
               .localCheckpoint())
        reused = _analytics_stage(spark, out_dir, run_id, ent)
        n_rank = spark.read.parquet(
            os.path.join(out_dir, "analytics", "pagerank")).count()
        summary["analytics_nodes"] = n_rank
        summary["analytics_reused"] = reused
        _stage_lineage(spark, out_dir, run_id,
                       "analytics_reuse" if reused else "analytics",
                       n_rank, t4)

    # unpersist the handles that were actually cached (unpersisting the
    # joined frame would be a no-op against the cache manager)
    canon_cached.unpersist()
    comp_by_subj.unpersist()
    return summary


def _analytics_stage(spark: SparkSession, out_dir: str, run_id: str,
                     ent: DataFrame) -> bool:
    """Write (or REUSE) the analytics product tables over the distinct
    canonical entity-edge frame; returns True when reused.

    Incremental maintenance on corpus append (r6 VERDICT #6): the
    analytics tables are a pure function of the entity-edge set, so
    the stage fingerprints it — ``(count, bit_xor(xxhash64(src,
    dst)))``, one order-insensitive 1-row aggregate — and SKIPS the
    whole recompute when the fingerprint matches the one stored from
    the previous run and all three tables are readable.  Appends that
    only re-assert existing entities/edges (the common case for this
    deterministic entity space — e.g. the 500k -> 550k soak) cost one
    aggregate scan instead of three iterative dataflows, and the
    tables stay BYTE-identical to a from-scratch run by construction.

    When the edge set HAS changed, all three algorithms recompute from
    scratch — warm-starting is documented out of scope because each
    would break the value-identity contract: PageRank here is
    fixed-iteration (a warm init changes the trajectory, hence the
    rounded values); prior coreness is a LOWER bound after appends
    (edges only get added) while the h-index iteration needs an upper
    bound init; label-propagation's fixpoint is init-dependent.  A
    same-values warm path would need convergence-defined variants of
    all three — a semantic change, not an optimization."""
    from cbor_ld_spark.operators.graph import (
        k_core_decomposition,
        label_propagation,
        pagerank,
    )

    fp = ent.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")),
                   F.lit(0)).alias("edge_xor")).collect()[0]
    fp_path = os.path.join(out_dir, "analytics", "edges_fingerprint")
    prior = None
    try:
        # mergeSchema: a dir written by the pre-r8 schema (no
        # tables_run_id) may be appended to by this one — keep the new
        # column visible regardless of which footer Spark samples
        rows = (spark.read.option("mergeSchema", "true").parquet(fp_path)
                .orderBy(F.desc("committed_at")).limit(1).collect())
        prior = rows[0] if rows else None
    except Exception:
        prior = None

    # Crash safety (ADVICE r7): the fingerprint row alone cannot prove
    # the tables on disk belong to the fingerprinted edge set — a run
    # that overwrote some tables and died before the fingerprint append
    # leaves the latest row pointing at the PREVIOUS edge set.  So each
    # table carries the run_id that wrote it (a constant column,
    # written atomically with the table's own parquet commit) and the
    # fingerprint row records that writer as ``tables_run_id``; reuse
    # requires all three tables to answer with exactly that id.
    def _table_run_ids() -> list:
        ids = []
        try:
            for t in ("pagerank", "coreness", "communities"):
                r = (spark.read.parquet(
                        os.path.join(out_dir, "analytics", t))
                     .select("run_id").limit(1).collect())
                ids.append(r[0]["run_id"] if r else None)
            return ids
        except Exception:
            return [None]

    prior_tables_run = (prior.asDict().get("tables_run_id")
                        if prior is not None else None)
    reused = (prior is not None
              and prior_tables_run is not None
              and prior["n_edges"] == fp["n_edges"]
              and prior["edge_xor"] == fp["edge_xor"]
              and all(i == prior_tables_run for i in _table_run_ids()))
    tables_run_id = prior_tables_run if reused else run_id
    if not reused:
        pr = pagerank(ent, redistribute_dangling=True).localCheckpoint()
        (pr.withColumn("run_id", F.lit(run_id))
           .write.mode("overwrite").parquet(
               os.path.join(out_dir, "analytics", "pagerank")))
        # k_core_decomposition's undirected projection drops nodes
        # whose only edges are self-loops; re-key on the full node set
        # (coreness 0 — no proper edges) so all three tables share one
        # node set, the contract downstream joins rely on
        kc = (pr.select("node")
              .join(k_core_decomposition(ent), "node", "left")
              .select("node",
                      F.coalesce("coreness", F.lit(0)).cast("int")
                      .alias("coreness")))
        (kc.withColumn("run_id", F.lit(run_id))
           .write.mode("overwrite").parquet(
               os.path.join(out_dir, "analytics", "coreness")))
        (label_propagation(ent)
         .withColumn("run_id", F.lit(run_id))
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, "analytics", "communities")))
    (spark.createDataFrame(
        [(int(fp["n_edges"]), int(fp["edge_xor"]))],
        "n_edges long, edge_xor long")
     .withColumn("run_id", F.lit(run_id))
     .withColumn("tables_run_id", F.lit(tables_run_id))
     .withColumn("reused", F.lit(bool(reused)))
     .withColumn("committed_at", F.current_timestamp())
     .write.mode("append").parquet(fp_path))
    return reused


def _stage_lineage(spark: SparkSession, out_dir: str, run_id: str,
                   stage: str, rows: int, t0: float) -> None:
    """One lineage row for a graph-global stage (bucket = -1)."""
    row = spark.createDataFrame(
        [(-1, rows, rows, 0, 0)],
        "bucket int, rows_in long, ok_rows long, err_rows long, triples long")
    (row.withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(int((time.monotonic() - t0) * 1000)))
        .withColumn("committed_at", F.current_timestamp())
        .write.mode("append").parquet(_lineage_path(out_dir)))


def edges_table(canon_triples: DataFrame) -> DataFrame:
    """Canonical edges: IRI->IRI triples (entity graph)."""
    return (
        canon_triples
        .select(
            F.col("subj").alias("subj_canon"),
            "pred",
            F.when(F.col("obj_is_iri"), F.col("obj")).alias("obj_canon"),
            F.when(~F.col("obj_is_iri"), F.col("obj")).alias("obj_literal"),
            "obj_datatype", "graph", "repo", "path",
        )
    )


def nodes_table(canon_triples: DataFrame) -> DataFrame:
    """Canonical nodes with kind + rdf:type labels, deduped corpus-wide."""
    from cbor_ld_spark.kernel.expand import RDF_TYPE

    subj_nodes = canon_triples.select(
        F.col("subj").alias("canon_iri"), "repo", "commit",
        F.when(F.col("pred") == RDF_TYPE, F.col("obj")).alias("label"))
    obj_nodes = canon_triples.filter(F.col("obj_is_iri")).select(
        F.col("obj").alias("canon_iri"), "repo", "commit",
        F.lit(None).cast("string").alias("label"))
    return (
        subj_nodes.unionByName(obj_nodes)
        .groupBy("canon_iri")
        .agg(
            F.sort_array(F.collect_set("label")).alias("labels"),
            F.countDistinct("repo").alias("n_repos"),
            F.min("repo").alias("first_repo"),
            F.min("commit").alias("first_seen_commit"),
        )
        .withColumn(
            "kind",
            F.when(F.col("canon_iri").contains("#_:") |
                   F.col("canon_iri").startswith("_:"), F.lit("bnode"))
            .otherwise(F.lit("iri")))
    )
