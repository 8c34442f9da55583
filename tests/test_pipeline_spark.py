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

    docs = process_corpus(synthesize_corpus(spark, 200), canonical=True)
    fresh = _final_plan(canonical_triples(triples_table(docs), docs))
    python = re.findall(r"MapInArrow[^\n]*", fresh)
    assert python and all("t_subj" in n for n in python), python
    assert "BatchEvalPython" not in fresh and "ArrowEvalPython" not in fresh

    docs = docs.localCheckpoint()
    materialized = _final_plan(canonical_triples(triples_table(docs), docs))
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


def _final_plan(df):
    """The tree string of ``df``'s final physical plan: ``collect`` runs
    the frame's own query, so adaptive execution settles its plan."""
    assert df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


def _node_names(lines):
    """The physical node name of each line of a plan's tree string."""
    import re

    return [re.match(r"(?:\*\(\d+\) )?(\w+)", ln.lstrip(" :+-")).group(1)
            for ln in lines]


def test_dedup_first_pipeline_plan_hygiene(spark, tmp_path):
    """The dedup-first kernel dataflow reads its input once and plans
    exactly one shuffle (the content_sha exchange, which carries the
    provenance), exactly one Python stage (the kernel mapInArrow over
    *distinct* contents) and no row-at-a-time Python anywhere.  There is
    no join: one scan and one ``sha2`` feed a hash aggregate that
    collects each content's provenance, and a JVM-side ``explode`` above
    the kernel hands it back.  Below the kernel there is no
    SortAggregate and no Sort."""
    import re

    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import corpus_from_documents

    src = str(tmp_path / "repos.parquet")
    corpus_from_documents(spark, "/root/testdata/sf0.001") \
        .write.parquet(src)
    repos = spark.read.parquet(src)
    plan = _final_plan(process_corpus(repos))
    lines = plan.splitlines()
    names = _node_names(lines)

    assert plan.count("MapInArrow") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("sha2(") == 1, plan
    assert not any("Join" in n for n in names), plan
    # the provenance comes back above the kernel (parents print first)
    gen = next(i for i, ln in enumerate(lines) if "Generate explode" in ln)
    top = names.index("MapInArrow")
    assert gen < top and "_prov" in lines[gen], plan

    # the kernel's subtree: the lines indented deeper than its node
    col = lines[top].index("MapInArrow")
    below = []
    for ln in lines[top + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= col:
            break
        below.append(ln)
    sub_names = _node_names(below)
    subtree = "\n".join(lines[top:top + 1 + len(below)])
    assert "SortAggregate" not in sub_names and "Sort" not in sub_names, \
        subtree
    assert {"HashAggregate", "ObjectHashAggregate"} & set(sub_names), subtree
    assert len(re.findall(r"Exchange hashpartitioning\(content_sha#\d+, ",
                          subtree)) == 1, subtree


def _sample(name):
    with open(os.path.join(FIXTURES, "samples", name)) as f:
        return f.read()


def _null_provenance_rows():
    """Null repo/path/commit, null content, duplicated content and three
    hostile documents: (repo, path, commit, lang, content) tuples."""
    note = _sample("note.jsonld")
    # a lone surrogate escape parses, then fails to encode as UTF-8
    surrogate = '{"@context": 5, "x": "\\ud800"}'
    return [(None, "a.json", "c1", "json", note),
            ("r", None, "c2", "json", note),
            ("r2", "b.json", None, "json", note),
            ("r3", "n.json", "c3", "json", None),
            ("r4", "t.json", "c4", "json", note[:len(note) // 2]),
            ("r5", "u.json", "c5", "json", _sample("uncompressible.jsonld")),
            ("r6", "d.json", "c6", "json", surrogate)]


def _null_provenance_counts():
    """(condition, rows) that hold over ``_null_provenance_rows``."""
    return ((F.col("repo").isNull(), 1), (F.col("path").isNull(), 1),
            (F.col("commit").isNull(), 1), (~F.col("ok"), 3))


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

    rows = _null_provenance_rows()
    corpus = spark.createDataFrame(rows, REPOS_SCHEMA)
    dedup, per_row = (process_corpus(corpus, canonical=True,
                                      dedup_content=d) for d in (True, False))
    assert dedup.columns == per_row.columns
    got = [sorted(map(repr, df.collect())) for df in (dedup, per_row)]
    assert got[0] == got[1]
    assert len(got[0]) == 6  # the sniff drops the null content
    for cond, n in _null_provenance_counts():
        assert dedup.filter(cond).count() == per_row.filter(cond).count() \
            == n, cond
    assert {r["path"]: r["error_kind"]
            for r in per_row.filter(~F.col("ok")).collect()} == {
        "t.json": "JSONDecodeError", "u.json": "InvalidContextEntry",
        "d.json": "UnicodeEncodeError"}


def _kernel_input_rows(df):
    """Rows that went through the kernel's ``MapInArrow`` in ``df``'s
    last run, from the node's output-row metric in the final plan (the
    kernel returns one row per input row)."""
    stack, found = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            stack.extend(node.children().apply(i)
                         for i in range(node.children().size()))
        if node.nodeName() == "MapInArrow":
            found.append(node.metrics().apply("pythonNumRowsReceived")
                         .value())
    assert len(found) == 1, found
    return found[0]


def test_process_corpus_heavy_duplicates(spark):
    """One content in 20,000 rows, next to the null-provenance rows and
    hostile documents: the dedup path gives the per-row path's rows, its
    kernel sees each distinct content once, and the null-provenance
    counts hold."""
    from cbor_ld_spark.functions.udfs import jsonld_sniff
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources.corpus import REPOS_SCHEMA

    copies = spark.range(20_000).select(
        F.concat(F.lit("v"), (F.col("id") % 7).cast("string")).alias("repo"),
        F.concat(F.lit("vendor/"), F.col("id").cast("string"),
                 F.lit(".json")).alias("path"),
        F.concat(F.lit("c"), (F.col("id") % 13).cast("string"))
        .alias("commit"),
        F.lit("json").alias("lang"),
        F.lit(_sample("vcb.jsonld")).alias("content"))
    corpus = spark.createDataFrame(_null_provenance_rows(), REPOS_SCHEMA) \
        .unionByName(copies).localCheckpoint()
    dedup = process_corpus(corpus)
    per_row = process_corpus(corpus, dedup_content=False).cache()
    assert dedup.columns == per_row.columns

    def fingerprint(df):
        return tuple(df.agg(F.count(F.lit(1)),
                            F.bit_xor(F.xxhash64(*df.columns))).first())

    assert fingerprint(dedup) == fingerprint(per_row)
    assert fingerprint(dedup)[0] == 20_006  # the sniff drops null content
    distinct = (corpus.filter(jsonld_sniff(F.col("lang")))
                .select("content").distinct().count())
    dedup.collect()
    assert _kernel_input_rows(dedup) == distinct == 5
    for cond, n in _null_provenance_counts():
        assert dedup.filter(cond).count() == per_row.filter(cond).count() \
            == n, cond
    assert dedup.filter(F.col("path").startswith("vendor/")
                        & F.col("ok")).count() == 20_000


def test_label_maps_plan_is_a_hash_dedup(spark):
    """``canonical_triples``' map branch dedups the (doc_sha, t_bnode,
    t_canon) arrays as hash-aggregate keys before building the map: no
    SortAggregate and no Sort."""
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.operators.kg import _label_maps
    from cbor_ld_spark.sources import corpus_from_documents

    docs = process_corpus(corpus_from_documents(spark, "/root/testdata/sf0.001"),
                          canonical=True).localCheckpoint()
    names = _node_names(_final_plan(_label_maps(docs)).splitlines())
    assert "SortAggregate" not in names and "Sort" not in names, names
    assert "HashAggregate" in names, names


def test_label_maps_one_row_per_document(spark):
    """Two copies of one document, one with its top-level keys reversed
    and re-indented, share a doc_sha and give one map row, so relabeling
    keeps one canonical triple per triple."""
    from cbor_ld_spark.operators import (
        canonical_triples,
        process_corpus,
        triples_table,
    )
    from cbor_ld_spark.operators.kg import _label_maps
    from cbor_ld_spark.sources.corpus import REPOS_SCHEMA

    text = _sample("truage.jsonld")
    flipped = json.dumps(dict(reversed(json.loads(text).items())), indent=3)
    docs = process_corpus(spark.createDataFrame(
        [("r", "a.json", "c1", "json", text),
         ("r", "b.json", "c1", "json", flipped)], REPOS_SCHEMA),
        canonical=True).localCheckpoint()
    got = docs.select("doc_sha", "content_sha", "ok").collect()
    assert all(r["ok"] for r in got)
    assert len({r["doc_sha"] for r in got}) == 1
    assert len({r["content_sha"] for r in got}) == 2
    assert _label_maps(docs).count() == 1
    triples = triples_table(docs)
    assert canonical_triples(triples, docs).count() == triples.count() > 0
