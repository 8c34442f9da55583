"""Corpus source: the driver-mandated repos table + deterministic synthesis.

Input shape (BASELINE.json input_hint): ``repo string, path string,
commit string, lang string, content string`` — an Iceberg table of
source-code repositories; parquet is the sandbox stand-in (the reader
falls back automatically).

``synthesize_corpus`` stamps the vendored reference sample documents
(plus distractor source files and mutated variants) across n rows,
**entirely JVM-side**: content variants are a small literal array
selected by ``id % k``, so generation never leaves Tungsten and scales
linearly with cores.  One designated mega-repo receives ~50% of rows to
exercise skew handling, mirroring real-world corpus skew (FIXTURES.md §1).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from cbor_ld_spark.kernel.loader import read_fixture_text

# (class_name, file, lang, encodable)
PAYLOAD_CLASSES: tuple[tuple[str, str, str, bool], ...] = (
    ("note", "note.jsonld", "json", True),
    ("prc", "prc.jsonld", "json", True),
    ("truage", "truage.jsonld", "json", True),
    ("cit", "cit.jsonld", "json", True),
    ("vcb", "vcb.jsonld", "json", True),
    ("uncompressible", "uncompressible.jsonld", "json", False),
    ("didKey", "didKey.jsonld", "json", False),  # context not vendored
)

# Entity-id templating: this UUID (shared by the truage/cit fixtures) is
# rewritten per row to one of N_ENTITIES deterministic UUIDs, so the
# corpus yields a real cross-document entity graph (entities recur
# across repos/paths) instead of one mega-entity per payload class.
_TEMPLATE_UUID = "188e8450-269e-11eb-b545-d3692cf35398"
N_ENTITIES = 1024


def _entity_uuid_col(id_col):
    h = F.md5(F.concat(F.lit("ent:"), F.pmod(id_col, F.lit(N_ENTITIES))
                       .cast("string")))
    return F.concat_ws(
        "-", h.substr(1, 8), h.substr(9, 4), h.substr(13, 4),
        h.substr(17, 4), h.substr(21, 12))


def _templated_content(content_col, id_col):
    return F.regexp_replace(content_col, _TEMPLATE_UUID,
                            _entity_uuid_col(id_col))

_DISTRACTORS: tuple[tuple[str, str, str], ...] = (
    ("rustsrc", "rust", "fn main() { println!(\"hello\"); } // not json-ld\n"),
    ("pysrc", "python", "def main():\n    return 42  # not json-ld\n"),
    ("mddoc", "markdown", "# README\n\nThis file is prose, not JSON-LD.\n"),
)


def _load_payload_variants() -> list[tuple[str, str, str, bool]]:
    """Returns [(class_name, lang, content, encodable)] incl. mutations."""
    variants: list[tuple[str, str, str, bool]] = []
    for name, fname, lang, encodable in PAYLOAD_CLASSES:
        raw = read_fixture_text("samples", fname)
        variants.append((name, lang, raw, encodable))
        if encodable:
            doc = json.loads(raw)
            # mutation 1: shuffled key order (decode oracle is order-insensitive)
            shuffled = json.dumps(dict(reversed(list(doc.items()))), indent=2)
            variants.append((f"{name}-shuffled", lang, shuffled, encodable))
            # mutation 2: whitespace-free
            compact = json.dumps(doc, separators=(",", ":"))
            variants.append((f"{name}-compact", lang, compact, encodable))
    # mutation 3: real-world framing (leading whitespace, UTF-8 BOM)
    note_raw = read_fixture_text("samples", "note.jsonld")
    variants.append(("note-indented", "json", "\n\t  " + note_raw, True))
    variants.append(("note-bom", "json", "﻿" + note_raw, True))
    for name, lang, content in _DISTRACTORS:
        variants.append((name, lang, content, False))
    # mutation 4: truncated JSON (parse-error path)
    variants.append(("truncated", "json", '{"@context": "https://www.w3.org/ns/activitystreams", "type"', False))
    return variants


def payload_variants() -> list[tuple[str, str, str, bool]]:
    return _load_payload_variants()


def synthesize_corpus(spark: SparkSession, n_rows: int,
                      n_orgs: int = 7, n_repos: int = 13,
                      mega_share: int = 2,
                      partitions: int | None = None) -> DataFrame:
    """Deterministic repos-shaped corpus of ``n_rows`` rows, JVM-side.

    Every ``mega_share``-th row lands in ``org0/mega`` (skew); content
    cycles through the payload variant array.  Same n -> same bytes,
    every run, any partitioning.  ``partitions`` defaults to the default
    parallelism — measured best at full machine width (more, smaller
    Arrow batches cost more than the shorter tail buys).
    """
    variants = _load_payload_variants()
    names = F.array(*[F.lit(v[0]) for v in variants])
    langs = F.array(*[F.lit(v[1]) for v in variants])
    contents = F.array(*[F.lit(v[2]) for v in variants])
    k = len(variants)

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    df = spark.range(0, n_rows, numPartitions=partitions)
    idx = (F.col("id") % k + 1).cast("int")  # element_at is 1-based
    cls = F.element_at(names, idx)
    repo = F.when(
        F.col("id") % mega_share == 0, F.lit("org0/mega")
    ).otherwise(
        F.concat(F.lit("org"), (F.col("id") % n_orgs).cast("string"),
                 F.lit("/repo"), (F.col("id") % n_repos).cast("string"))
    )
    path = F.concat(F.lit("creds/"), F.col("id").cast("string"),
                    F.lit("/"), cls, F.lit(".jsonld"))
    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        F.sha2(F.concat(repo, F.lit(":"), path, F.lit(":42")), 256)
        .substr(1, 40).alias("commit"),
        F.element_at(langs, idx).alias("lang"),
        _templated_content(F.element_at(contents, idx), F.col("id"))
        .alias("content"),
    )


def corpus_from_documents(spark: SparkSession, sf_dir: str,
                          limit_ids: int | None = None) -> DataFrame:
    """Derive the repos-shaped corpus from the testdata ``documents`` table.

    Uses ``doc_id`` as the deterministic row index so the corpus is a pure
    function of the driver-generated testdata (same variant cycling and
    mega-repo skew as :func:`synthesize_corpus`).
    """
    from cbor_ld_spark.plans.partitioning import spread_input

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if limit_ids is not None:
        docs = docs.filter(F.col("doc_id") < limit_ids)
    # single-file input = one scan partition: spread the 8-byte ids
    # BEFORE content generation so the templating regex + sha and the
    # downstream kernel pass run at machine width (guide §2.5)
    docs = spread_input(docs)
    variants = _load_payload_variants()
    names = F.array(*[F.lit(v[0]) for v in variants])
    langs = F.array(*[F.lit(v[1]) for v in variants])
    contents = F.array(*[F.lit(v[2]) for v in variants])
    k = len(variants)
    idx = (F.col("doc_id") % k + 1).cast("int")
    cls = F.element_at(names, idx)
    repo = F.when(
        F.col("doc_id") % 2 == 0, F.lit("org0/mega")
    ).otherwise(
        F.concat(F.lit("org"), (F.col("doc_id") % 7).cast("string"),
                 F.lit("/repo"), (F.col("doc_id") % 13).cast("string"))
    )
    path = F.concat(F.lit("creds/"), F.col("doc_id").cast("string"),
                    F.lit("/"), cls, F.lit(".jsonld"))
    return docs.select(
        repo.alias("repo"),
        path.alias("path"),
        F.sha2(F.concat(repo, F.lit(":"), path, F.lit(":42")), 256)
        .substr(1, 40).alias("commit"),
        F.element_at(langs, idx).alias("lang"),
        _templated_content(F.element_at(contents, idx), F.col("doc_id"))
        .alias("content"),
    )


REPOS_SCHEMA = ("repo string, path string, commit string, lang string, "
                "content string")


def load_repos(spark: SparkSession, source: str,
               fmt: str | None = None) -> DataFrame:
    """Read the repos corpus: Iceberg table name, or a parquet / jsonl /
    csv path (``fmt`` overrides the extension sniff).

    At production scale this is an Iceberg scan (hidden partitioning on
    ``bucket(N, repo)``); Catalyst pushes filters/pruning into the scan
    either way.  The text formats carry an explicit schema so a
    quarantined bad line never silently retypes a column (Spark's
    schema inference would).
    """
    is_path = (os.path.exists(source)
               or source.startswith(("file:", "s3:", "hdfs:", "dbfs:")))
    if not is_path:
        return spark.read.table(source)
    if fmt is None:
        low = source.rstrip("/").lower()
        if low.endswith((".jsonl", ".json", ".ndjson")):
            fmt = "jsonl"
        elif low.endswith(".csv"):
            fmt = "csv"
        elif low.endswith(".orc"):
            fmt = "orc"
        else:
            fmt = "parquet"
    if fmt == "jsonl":
        return (spark.read.schema(REPOS_SCHEMA)
                .option("mode", "PERMISSIVE").json(source))
    if fmt == "csv":
        return (spark.read.schema(REPOS_SCHEMA)
                .option("header", "true")
                .option("multiLine", "true")
                .option("escape", '"').csv(source))
    if fmt == "orc":
        return spark.read.orc(source)
    return spark.read.parquet(source)
