"""KG-construction dataflow operators (stages 0-3 of the pipeline).

Spark-first realization of SURVEY.md §3.4:

  scan -> sniff filter -> [one Arrow pass: parse/encode/decode/verify/
  expand] -> doc results + exploded triple rows -> metrics aggregates.

  The kernel stage is ``mapInArrow`` (RecordBatch in/out): output columns
  are built with ``pa.array`` directly, skipping the pandas object-Series
  detour entirely (~8% less overhead, lower variance).

Scale notes (the part the 100 TB design hangs on):

* The sniff filter and column projection sit *before* mapInArrow, so
  Catalyst prunes the scan to (repo, path, commit, lang, content) and
  drops non-candidates inside the scan stage.
* ``process_corpus`` plans one exchange: a hash repartition on
  ``content_sha`` with an explicit count, which carries each row's
  provenance (repo, path, commit) to its content's partition.  The
  dedup aggregate reuses that partitioning, the provenance rides
  through the kernel as one list per distinct content, and it explodes
  back JVM-side: one scan, one ``sha2``, no join-back.
* Triples explode JVM-side from the nested column; a 1-doc -> N-triples
  fan-out never materializes Python objects row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from cbor_ld_spark.functions.udfs import (
    RESULT_FIELDS,
    jsonld_sniff,
    kg_process_batches,
)

# the docs tables' column order: provenance, doc_sha, content_sha, then
# the rest of the per-document result but its triple and label arrays
DOC_COLUMNS = ["repo", "path", "commit", "doc_sha", "content_sha",
               *(f.name for f in RESULT_FIELDS[1:]
                 if not f.name.startswith("t_"))]
# process_corpus's column order, on either path
_OUT_COLUMNS = [*DOC_COLUMNS, *(f.name for f in RESULT_FIELDS
                                if f.name.startswith("t_"))]


def process_corpus(repos: DataFrame, registry_id: int = 1,
                   canonical: bool = False,
                   dedup_content: bool = True) -> DataFrame:
    """repos(repo,path,commit,lang,content) -> per-document KG results.

    ``dedup_content=True`` (default) runs the Python kernel once per
    *distinct* content hash -- the Spark-first answer to duplicate files
    (vendored deps, forks) dominating a source corpus: work scales with
    unique documents, not rows.  It is one pipeline over one scan and one
    ``sha2``: ``spread_input`` hash-partitions the candidates on
    ``content_sha`` (the only exchange, carrying the provenance), a
    group on ``(content_sha, content)`` collects each content's
    ``(repo, path, commit)`` structs into ``_prov`` (``content`` is a
    function of its hash, so the key adds no groups), the kernel passes
    ``_prov`` through untouched, and ``explode`` gives every input row
    its result back.  The rows equal the per-row path's (doc_sha, bnode
    labels and triples are pure functions of content).

    ``collect_list`` plans ``ObjectHashAggregate``; at run time it falls
    back to sort-based aggregation past 128 keys per task
    (``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``, left
    at Spark's default: the package sets no session conf).  One distinct
    content's provenance is one Arrow list value, and Arrow batches use
    32-bit offsets, so the provenance strings of one kernel batch must
    stay under 2 GiB -- about 20M duplicate rows at ~100 B each.

    ``canonical=True`` adds each document's blank-node label map
    (``t_bnode``/``t_canon``), which ``canonical_triples`` applies.
    """
    candidates = (
        repos
        .filter(jsonld_sniff(F.col("lang")))
        .select("repo", "path", "commit", "content")
        .withColumn("content_sha", F.sha2(F.col("content"), 256))
    )
    fn = kg_process_batches(registry_id=registry_id, canonical=canonical)
    if dedup_content:
        from cbor_ld_spark.plans.partitioning import spread_input

        # hash-repartition on the dedup key with an EXPLICIT count: one
        # exchange total (the aggregation reuses the partitioning), and
        # AQE's byte-based coalescer cannot fold the kernel stage back
        # to one partition -- a 1 MB batch of distinct documents is
        # minutes of Python work, which the coalescer's sizing cannot
        # see (guide §2.2/§4)
        grouped = (spread_input(candidates, by="content_sha")
                   .groupBy("content_sha", "content")
                   .agg(F.collect_list(F.struct("repo", "path", "commit"))
                        .alias("_prov")))
        results = grouped.mapInArrow(fn, _kernel_schema(grouped))
        return (results.withColumn("_prov", F.explode("_prov"))
                .select("_prov.*", "*").select(*_OUT_COLUMNS))
    return candidates.mapInArrow(fn, _kernel_schema(candidates)) \
        .select(*_OUT_COLUMNS)


def _kernel_schema(inputs: DataFrame) -> StructType:
    """The kernel stage's schema: its input's fields but ``content``
    (so their nullability follows the input), then ``RESULT_FIELDS``."""
    return StructType([*(f for f in inputs.schema if f.name != "content"),
                       *RESULT_FIELDS])


def triples_table(processed: DataFrame) -> DataFrame:
    """Explode per-doc triple arrays into the corpus-wide triples table.

    The UDF returns seven parallel flat arrays; zipping them into structs
    and exploding happens here, JVM-side (one generate node, no Python).
    """
    t = (
        processed
        .filter(F.col("ok") & (F.col("n_triples") > 0))
        .select("repo", "path", "commit", "doc_sha",
                F.explode(F.arrays_zip(
                    "t_subj", "t_pred", "t_obj", "t_is_iri",
                    "t_dt", "t_lang", "t_graph")).alias("t"))
    )
    return t.select(
        F.col("t.t_subj").alias("subj"),
        F.col("t.t_pred").alias("pred"),
        F.col("t.t_obj").alias("obj"),
        F.col("t.t_is_iri").alias("obj_is_iri"),
        F.col("t.t_dt").alias("obj_datatype"),
        F.col("t.t_lang").alias("obj_lang"),
        F.col("t.t_graph").alias("graph"),
        "repo", "path", "commit", "doc_sha",
    )


def canonical_triples(triples: DataFrame, docs: DataFrame) -> DataFrame:
    """Rewrite blank nodes to their canonical structure-hash labels.

    ``docs`` is a ``process_corpus(..., canonical=True)`` frame: each
    document's (bnode, canon) map comes out of the kernel, so relabeling
    is JVM-side -- one map column per ``doc_sha`` (the map depends on
    the document only, so one row per ``doc_sha`` is exact; see
    ``_label_maps``), a left equi-join on ``doc_sha`` and three codegen
    ``element_at`` lookups.
    A node without an entry (an IRI, or a document beyond
    ``MAX_DOC_TRIPLES``) keeps its label.
    """
    bm = _label_maps(docs)
    return (
        triples
        .join(bm, "doc_sha", "left")
        .select(
            F.coalesce(F.element_at("_m", F.col("subj")),
                       F.col("subj")).alias("subj"),
            "pred",
            F.when(F.col("obj_is_iri"),
                   F.coalesce(F.element_at("_m", F.col("obj")),
                              F.col("obj")))
            .otherwise(F.col("obj")).alias("obj"),
            "obj_is_iri", "obj_datatype", "obj_lang",
            F.coalesce(F.element_at("_m", F.col("graph")),
                       F.col("graph")).alias("graph"),
            "repo", "path", "commit", "doc_sha",
        )
    )


def _label_maps(docs: DataFrame) -> DataFrame:
    """(doc_sha, _m): one blank-node -> canonical label map per document
    of a canonical ``process_corpus`` frame that has blank nodes.

    Copies of one document (the same ``doc_sha`` under another key order
    or whitespace, so another ``content_sha``) carry the same two arrays
    in the same order: ``_canonicalize_doc`` orders the blank nodes by
    (colour, label) of the document's distinct triples.  So the dedup
    groups on the arrays themselves -- a hash aggregate, since arrays
    can be grouping keys and a map cannot -- and builds each map once.
    """
    return (docs.filter(F.size("t_bnode") > 0)
            .select("doc_sha", "t_bnode", "t_canon").distinct()
            .select("doc_sha", F.map_from_arrays("t_bnode", "t_canon")
                    .alias("_m")))


def corpus_metrics(processed: DataFrame) -> DataFrame:
    """Per-repo verification metrics (partial aggregation is automatic)."""
    return (
        processed
        .groupBy("repo")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("ok").cast("long")).alias("ok_docs"),
            F.sum(F.coalesce(F.col("roundtrip_ok").cast("long"), F.lit(0)))
            .alias("roundtrip_ok_docs"),
            F.sum("n_triples").alias("triples"),
            F.sum(F.coalesce(F.col("cbor_len"), F.lit(0)).cast("long")).alias("cbor_bytes"),
            F.sum(F.col("json_len").cast("long")).alias("json_bytes"),
        )
    )
