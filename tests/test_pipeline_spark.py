"""Tier-2: distributed pipeline correctness on local Spark.

Covers: corpus synthesis + quarantine behavior, triple P/R against the
golden fixtures (the rule's >=0.95 gate), entity linking, canonical
labeling isomorphism-invariance, and checkpoint-resume idempotency.
"""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cbor_ld_spark", "fixtures",
)


@pytest.fixture(scope="module")
def processed(spark):
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import synthesize_corpus

    return process_corpus(synthesize_corpus(spark, 200)).cache()


def test_quarantine_never_kills_partitions(processed):
    kinds = {r["error_kind"]: r["n"] for r in
             processed.groupBy("error_kind")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    # encodable docs succeed; inline-context, unmounted-context and
    # truncated-JSON rows land in the quarantine kinds
    assert None in kinds
    assert "InvalidContextEntry" in kinds  # uncompressible
    assert "LoadingDocumentFailed" in kinds  # didKey
    assert "JSONDecodeError" in kinds  # truncated


def test_roundtrip_invariant_all_ok_docs(processed):
    bad = processed.filter(F.col("ok") & ~F.col("roundtrip_ok")).count()
    assert bad == 0


def test_compression_on_corpus(processed):
    row = (processed.filter(F.col("ok"))
           .agg(F.sum("cbor_len").alias("c"), F.sum("json_len").alias("j"))
           .collect()[0])
    assert row["c"] < row["j"] * 0.6


def _golden_triples(name):
    with open(os.path.join(FIXTURES, "triples", f"{name}.triples.json")) as f:
        return {tuple(r) for r in json.load(f)}


def test_triples_pr_vs_golden(spark):
    """P/R of pipeline-emitted triples vs golden fixtures (rule: >=0.95).

    The pipeline prefixes blank nodes with the doc sha; strip the prefix
    to compare against the document-scoped goldens.
    """
    from cbor_ld_spark.operators import process_corpus, triples_table

    rows = []
    for name in ["note", "prc", "truage", "cit"]:
        with open(os.path.join(FIXTURES, "samples", f"{name}.jsonld")) as f:
            rows.append((f"org/{name}", f"creds/{name}.jsonld", "c0", "json",
                         f.read()))
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    got = triples_table(process_corpus(repos)).collect()

    def strip(v):
        if isinstance(v, str) and v.startswith("_:") and "_b" in v:
            return "_:b" + v.rsplit("_b", 1)[1]
        return v

    emitted = {
        (strip(r["subj"]), r["pred"], strip(r["obj"]), r["obj_is_iri"],
         r["obj_datatype"] or "", r["obj_lang"] or "", strip(r["graph"]))
        for r in got
    }
    golden = set()
    for name in ["note", "prc", "truage", "cit"]:
        golden |= _golden_triples(name)

    tp = len(emitted & golden)
    precision = tp / len(emitted)
    recall = tp / len(golden)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0  # exact today


def test_connected_components_basic(spark):
    from cbor_ld_spark.operators.linking import _cc_loop, connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")],
        "src string, dst string")
    expected = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "p": "p"}
    # driver union-find fast path
    got = {r["id"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == expected
    # distributed label-propagation path
    got_dist = {r["id"]: r["component"]
                for r in _cc_loop(edges, 25).collect()}
    assert got_dist == expected


def test_connected_components_paths_agree(spark):
    """The driver union-find and the distributed loop give the same rows
    on a random graph, and on graphs with null node ids: a null id takes
    the smallest component among its neighbours but links nothing."""
    import random

    from cbor_ld_spark.operators.linking import _cc_loop, connected_components

    def both(rows):
        edges = spark.createDataFrame(rows, "src string, dst string")
        fast = sorted(map(tuple, connected_components(edges).collect()),
                      key=repr)
        return fast, sorted(map(tuple, _cc_loop(edges, 25).collect()),
                            key=repr)

    rng = random.Random(7)
    rows = [(f"n{rng.randrange(200)}", f"n{rng.randrange(200)}")
            for _ in range(400)]
    fast, dist = both(rows)
    assert fast == dist
    fast, dist = both([("a", "b"), ("b", None), (None, "a"), ("x", "y")])
    assert fast == dist == sorted(
        [("a", "a"), ("b", "a"), ("x", "x"), ("y", "x"), (None, "a")],
        key=repr)
    # a null id between two components, one on a self-loop, and one
    # with only null neighbours
    for nulls in ([("c", None), (None, "b"), ("b", "a")],
                  [(None, None), ("p", "p")],
                  [(None, "z"), (None, None), ("y", "z")]):
        fast, dist = both(rows[:40] + nulls)
        assert fast == dist, nulls


def test_canonicalization_isomorphism_invariance():
    from cbor_ld_spark.kernel.rdf import _canonical_labels_for_component

    g1 = [("_:x", "p", "_:y", True), ("_:y", "q", "lit", False),
          ("_:x", "r", "http://a", True)]
    g2 = [("_:n2", "q", "lit", False), ("_:n1", "p", "_:n2", True),
          ("_:n1", "r", "http://a", True)]
    m1 = _canonical_labels_for_component(g1)
    m2 = _canonical_labels_for_component(g2)
    relabel1 = {(m1.get(s, s), p, m1.get(o, o)) for s, p, o, _ in g1}
    relabel2 = {(m2.get(s, s), p, m2.get(o, o)) for s, p, o, _ in g2}
    assert relabel1 == relabel2


def test_build_kg_resume_idempotent(spark):
    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import synthesize_corpus

    out = tempfile.mkdtemp(prefix="kgtest_")
    try:
        repos = synthesize_corpus(spark, 120)
        s1 = build_kg(spark, repos, out, run_id="r1", n_buckets=4)
        assert s1["docs_processed_this_run"] > 0
        s2 = build_kg(spark, repos, out, run_id="r1", n_buckets=4)
        assert s2["docs_processed_this_run"] == 0
        for k in ("docs_total", "triples_total", "nodes_total", "edges_total"):
            assert s1[k] == s2[k], k
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_build_kg_summary_matches_written_tables(spark):
    """The summary's totals equal recounts of the tables build_kg wrote
    (triples and edges come from the canonical row count, not a re-read),
    and every written docs row carries its blank-node map."""
    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import synthesize_corpus

    out = tempfile.mkdtemp(prefix="kgtest_")
    try:
        s = build_kg(spark, synthesize_corpus(spark, 120), out, run_id="r1",
                     n_buckets=4)

        def n(table):
            return spark.read.parquet(os.path.join(out, table)).count()

        assert s["docs_total"] == n("docs")
        assert s["triples_total"] == n("triples") > 0
        assert s["edges_total"] == n("edges")
        assert s["nodes_total"] == n("nodes")
        docs = spark.read.parquet(os.path.join(out, "docs"))
        assert docs.filter(F.col("ok") & F.col("t_bnode").isNull()).count() == 0
        assert docs.filter(F.size("t_bnode") > 0).count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_canonical_triples_plan_runs_no_python_of_its_own(spark):
    """Canonical labels come out of the kernel: every Python node in the
    plan of ``canonical_triples`` over a fresh canonical ``process_corpus``
    is the kernel (it emits ``t_subj``), and over materialized inputs,
    as the shared tier and build_kg read them, relabeling runs no
    Python at all."""
    import re

    from cbor_ld_spark.operators import (
        canonical_triples,
        process_corpus,
        triples_table,
    )
    from cbor_ld_spark.sources import synthesize_corpus

    def plan(df):
        df.count()  # resolve AQE to the final plan
        return df._jdf.queryExecution().executedPlan().toString()

    docs = process_corpus(synthesize_corpus(spark, 200), canonical=True)
    fresh = plan(canonical_triples(triples_table(docs), docs))
    python = re.findall(r"MapInArrow[^\n]*", fresh)
    assert python and all("t_subj" in n for n in python), python
    assert "BatchEvalPython" not in fresh and "ArrowEvalPython" not in fresh

    docs = docs.localCheckpoint()
    materialized = plan(canonical_triples(triples_table(docs), docs))
    assert "MapInArrow" not in materialized, materialized
    assert "EvalPython" not in materialized, materialized


def test_build_kg_leaves_session_overwrite_mode(spark):
    """build_kg's dynamic partition overwrite is scoped to its own
    writes: the caller's session conf reads the same afterwards."""
    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import synthesize_corpus

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    out = tempfile.mkdtemp(prefix="kgtest_")
    try:
        build_kg(spark, synthesize_corpus(spark, 60), out, run_id="r1",
                 n_buckets=2)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)
        shutil.rmtree(out, ignore_errors=True)


def test_entity_linking_across_documents(spark):
    """truage and cit share the same urn:uuid @id -> one linked entity."""
    from cbor_ld_spark.operators import process_corpus, triples_table
    from cbor_ld_spark.operators.linking import link_entities

    rows = []
    for name in ["truage", "cit"]:
        with open(os.path.join(FIXTURES, "samples", f"{name}.jsonld")) as f:
            rows.append((f"org/{name}", f"creds/{name}.jsonld", "c0", "json",
                         f.read()))
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")
    triples = triples_table(process_corpus(repos))
    comp = link_entities(triples)
    uuid_comp = comp.filter(
        F.col("id") == "urn:uuid:188e8450-269e-11eb-b545-d3692cf35398"
    ).collect()[0]["component"]
    # both credentials' proof nodes land in the same component
    members = comp.filter(F.col("component") == uuid_comp).count()
    assert members >= 8


def test_load_repos_jsonl_and_csv(spark, tmp_path):
    """Corpus interchange formats: jsonl/csv sources feed the same
    kernel pipeline as parquet, with explicit (non-inferred) schemas."""
    import json

    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import load_repos, synthesize_corpus

    rows = synthesize_corpus(spark, 40).collect()
    jsonl = tmp_path / "corpus.jsonl"
    with open(jsonl, "w") as f:
        for r in rows:
            f.write(json.dumps(r.asDict()) + "\n")
    got = load_repos(spark, str(jsonl))
    assert got.count() == 40
    assert got.columns == ["repo", "path", "commit", "lang", "content"]
    # and it runs end-to-end through the kernel
    ok = process_corpus(got).filter("ok").count()
    assert ok > 0

    csv = tmp_path / "corpus.csv"
    (spark.createDataFrame(rows)
     .coalesce(1).write.option("header", "true")
     .option("escape", '"').mode("overwrite").csv(str(csv)))
    got_csv = load_repos(spark, str(csv), fmt="csv")
    assert got_csv.count() == 40
    assert process_corpus(got_csv).filter("ok").count() == ok


def test_load_repos_orc(spark, tmp_path):
    """ORC source (columnar interchange besides parquet) feeds the same
    kernel pipeline; extension sniff and explicit fmt both work."""
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import load_repos, synthesize_corpus

    orc = tmp_path / "corpus.orc"
    synthesize_corpus(spark, 40).write.orc(str(orc))
    got = load_repos(spark, str(orc))
    assert got.count() == 40
    assert got.columns == ["repo", "path", "commit", "lang", "content"]
    assert process_corpus(got).filter("ok").count() > 0
    assert load_repos(spark, str(orc), fmt="orc").count() == 40


def test_build_kg_analytics_tier(spark):
    """--analytics writes pagerank/coreness/communities tables over the
    canonical entity graph, all keyed by the same node set, plus an
    'analytics' lineage row; the default build writes none of it."""
    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import synthesize_corpus

    out = tempfile.mkdtemp(prefix="kgtest_an_")
    try:
        repos = synthesize_corpus(spark, 120)
        s = build_kg(spark, repos, out, run_id="a1", n_buckets=4,
                     analytics=True)
        assert s["analytics_nodes"] > 0
        pr = spark.read.parquet(os.path.join(out, "analytics", "pagerank"))
        kc = spark.read.parquet(os.path.join(out, "analytics", "coreness"))
        cm = spark.read.parquet(os.path.join(out, "analytics", "communities"))
        n = s["analytics_nodes"]
        assert pr.count() == kc.count() == cm.count() == n
        assert {r["node"] for r in pr.select("node").collect()} == \
            {r["node"] for r in kc.select("node").collect()}
        lineage = spark.read.parquet(os.path.join(out, "lineage"))
        stages = {r["stage"] for r in lineage.select("stage").collect()}
        assert "analytics" in stages
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_build_kg_analytics_incremental_reuse(spark):
    """Incremental analytics maintenance (r6 VERDICT #6): an append
    that introduces no new distinct entity edges reuses the tables
    (fingerprint match — byte-identical by construction); an append
    that DOES change the edge set recomputes, and the recomputed
    tables equal a from-scratch build on the same corpus."""
    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import synthesize_corpus

    def table(out, name):
        # drop the run_id provenance column (r8 crash-safety stamp) —
        # the value-identity contract is over the analytics columns
        return {tuple(r) for r in spark.read.parquet(
            os.path.join(out, "analytics", name))
            .drop("run_id").collect()}

    out = tempfile.mkdtemp(prefix="kgtest_inc_")
    out2 = tempfile.mkdtemp(prefix="kgtest_inc_scratch_")
    try:
        s1 = build_kg(spark, synthesize_corpus(spark, 120), out,
                      run_id="r1", n_buckets=4, analytics=True)
        assert s1["analytics_reused"] is False
        before = {t: table(out, t)
                  for t in ("pagerank", "coreness", "communities")}

        # duplicate append: same 120-row corpus again under a new
        # run_id -> same distinct docs -> same entity edges -> REUSE
        s2 = build_kg(spark, synthesize_corpus(spark, 120), out,
                      run_id="r2", n_buckets=4, analytics=True)
        assert s2["analytics_reused"] is True
        for t in before:
            assert table(out, t) == before[t]
        lineage = spark.read.parquet(os.path.join(out, "lineage"))
        stages = [r["stage"] for r in lineage.select("stage").collect()]
        assert "analytics_reuse" in stages

        # growing append: 120 -> 200 rows draws new (variant, entity)
        # combinations -> new edges -> fingerprint differs -> recompute
        s3 = build_kg(spark, synthesize_corpus(spark, 200), out,
                      run_id="r3", n_buckets=4, analytics=True)
        assert s3["analytics_reused"] is False
        # value-identity vs a from-scratch build of the same corpus
        build_kg(spark, synthesize_corpus(spark, 200), out2,
                 run_id="s1", n_buckets=4, analytics=True)
        for t in ("pagerank", "coreness", "communities"):
            assert table(out, t) == table(out2, t), t
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_build_kg_analytics_reuse_crash_safe(spark):
    """Crash safety of the analytics reuse gate (ADVICE r7): a run
    that overwrote product tables but DIED before appending its
    fingerprint must not poison a later fingerprint-matching run into
    reusing the mixed tables — each table is stamped with its writer's
    run_id and reuse requires all three to match the fingerprint's
    tables_run_id."""
    from pyspark.sql import functions as F

    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import synthesize_corpus

    out = tempfile.mkdtemp(prefix="kgtest_crash_")
    try:
        s1 = build_kg(spark, synthesize_corpus(spark, 120), out,
                      run_id="r1", n_buckets=4, analytics=True)
        assert s1["analytics_reused"] is False

        # simulate a crashed run: it recomputed pagerank for a
        # DIFFERENT edge set (content garbage here — the point is the
        # table no longer belongs to the fingerprinted set) and died
        # before fingerprint append
        pr_path = os.path.join(out, "analytics", "pagerank")
        zombie = (spark.read.parquet(pr_path)
                  .limit(3)
                  .withColumn("run_id", F.lit("crashed-run"))
                  .localCheckpoint())
        zombie.write.mode("overwrite").parquet(pr_path)

        # same corpus again: fingerprint matches the latest committed
        # row, but pagerank's run_id != tables_run_id -> recompute
        s2 = build_kg(spark, synthesize_corpus(spark, 120), out,
                      run_id="r2", n_buckets=4, analytics=True)
        assert s2["analytics_reused"] is False
        ids = {r["run_id"] for r in spark.read.parquet(pr_path)
               .select("run_id").distinct().collect()}
        assert ids == {"r2"}

        # and a clean repeat after the repair DOES reuse, carrying the
        # writer's id forward in the fingerprint row
        s3 = build_kg(spark, synthesize_corpus(spark, 120), out,
                      run_id="r3", n_buckets=4, analytics=True)
        assert s3["analytics_reused"] is True
        fp = (spark.read.option("mergeSchema", "true").parquet(
                  os.path.join(out, "analytics", "edges_fingerprint"))
              .orderBy(F.desc("committed_at")).limit(1).collect()[0])
        assert fp["tables_run_id"] == "r2"
        assert fp["run_id"] == "r3"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dedup_first_pipeline_plan_hygiene(spark, tmp_path):
    """The dedup-first kernel dataflow plans exactly one shuffle (the
    content_sha exchange), exactly one Python stage (the kernel
    mapInArrow over *distinct* contents, below the join-back), and no
    row-at-a-time Python anywhere.  Below the kernel the dedup is a hash
    aggregate: no SortAggregate and no Sort, which a ``first(content)``
    aggregate would plan."""
    import re

    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import corpus_from_documents

    src = str(tmp_path / "repos.parquet")
    corpus_from_documents(spark, "/root/testdata/sf0.001") \
        .write.parquet(src)
    repos = spark.read.parquet(src)
    out = process_corpus(repos)
    out.count()  # resolve AQE to the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()

    assert plan.count("MapInArrow") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the single Python stage sits BELOW the join-back (parents print
    # first): everything after the provenance join is JVM-side
    join_pos = max(plan.find("BroadcastHashJoin"), plan.find("SortMergeJoin"))
    assert join_pos >= 0, plan
    assert plan.find("MapInArrow") > join_pos, plan

    # the kernel's subtree: the lines indented deeper than its node
    lines = plan.splitlines()
    top = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    col = lines[top].index("MapInArrow")
    names = []
    for ln in lines[top + 1:]:
        body = ln.lstrip(" :+-")
        if len(ln) - len(body) <= col:
            break
        names.append(re.match(r"(?:\*\(\d+\) )?(\w+)", body).group(1))
    subtree = "\n".join(lines[top:top + 1 + len(names)])
    assert "SortAggregate" not in names and "Sort" not in names, subtree
    assert "HashAggregate" in names, subtree
    assert len(re.findall(r"Exchange hashpartitioning\(content_sha#\d+, ",
                          subtree)) == 1, subtree


def test_process_corpus_paths_agree_on_null_provenance(spark):
    """Both kernel paths give the same rows in the same column order
    over null ``repo``/``path``/``commit``, null content, duplicated
    content and hostile documents, and a null filter counts the same on
    both.  The kernel stage's schema takes its nullability from its
    input, so a null provenance column neither fails the per-row path
    in the JVM's row writer nor lets the optimizer fold ``IS NULL`` to
    an empty result."""
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources.corpus import REPOS_SCHEMA

    def sample(name):
        with open(os.path.join(FIXTURES, "samples", name)) as f:
            return f.read()

    note = sample("note.jsonld")
    # a lone surrogate escape parses, then fails to encode as UTF-8
    surrogate = '{"@context": 5, "x": "\\ud800"}'
    rows = [(None, "a.json", "c1", "json", note),
            ("r", None, "c2", "json", note),
            ("r2", "b.json", None, "json", note),
            ("r3", "n.json", "c3", "json", None),
            ("r4", "t.json", "c4", "json", note[:len(note) // 2]),
            ("r5", "u.json", "c5", "json", sample("uncompressible.jsonld")),
            ("r6", "d.json", "c6", "json", surrogate)]
    corpus = spark.createDataFrame(rows, REPOS_SCHEMA)
    dedup, per_row = (process_corpus(corpus, canonical=True,
                                      dedup_content=d) for d in (True, False))
    assert dedup.columns == per_row.columns
    got = [sorted(map(repr, df.collect())) for df in (dedup, per_row)]
    assert got[0] == got[1]
    assert len(got[0]) == 6  # the sniff drops the null content
    for cond, n in ((F.col("repo").isNull(), 1), (F.col("path").isNull(), 1),
                    (F.col("commit").isNull(), 1), (~F.col("ok"), 3)):
        assert dedup.filter(cond).count() == per_row.filter(cond).count() \
            == n, cond
    assert {r["path"]: r["error_kind"]
            for r in per_row.filter(~F.col("ok")).collect()} == {
        "t.json": "JSONDecodeError", "u.json": "InvalidContextEntry",
        "d.json": "UnicodeEncodeError"}
