"""ANN operators: brute-force baseline vs LSH and IVF approximations."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def exact(spark):
    from cbor_ld_spark.operators.similarity import cosine_topk

    return {(r["query_id"], r["vec_id"]) for r in
            cosine_topk(spark, SF, n_queries=5, k=5).collect()}


def test_exact_topk_shape(spark, exact):
    assert len(exact) == 25


def test_lsh_recall(spark, exact):
    from cbor_ld_spark.operators.similarity import lsh_topk

    got = {(r["query_id"], r["vec_id"]) for r in
           lsh_topk(spark, SF, n_queries=5, k=5, n_planes=4).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.4, recall  # approximate, bucket-limited


def test_ivf_recall(spark, exact):
    from cbor_ld_spark.operators.similarity import ivf_topk

    got = {(r["query_id"], r["vec_id"]) for r in
           ivf_topk(spark, SF, n_queries=5, k=5,
                    n_cells=8, n_probe=4).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, recall


def test_ivf_deterministic(spark):
    from cbor_ld_spark.operators.similarity import ivf_topk

    a = ivf_topk(spark, SF, n_queries=3, k=3).collect()
    b = ivf_topk(spark, SF, n_queries=3, k=3).collect()
    assert a == b


def test_pq_topk_recall_vs_exact(spark):
    """PQ+rerank top-5 must substantially agree with exact cosine top-5
    (ADC candidates at rerank=32 of 500 rows): require >=60% overlap
    averaged over queries, and every returned cosine must equal the
    exact cosine for that pair (the rerank IS exact)."""
    from cbor_ld_spark.operators.similarity import cosine_topk, pq_topk

    sf = "/root/testdata/sf0.001"
    exact = cosine_topk(spark, sf).collect()
    approx = pq_topk(spark, sf).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    ap = {}
    for r in approx:
        ap.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    assert set(ap) == set(ex)
    overlap = 0
    total = 0
    for q in ex:
        overlap += len(set(ex[q]) & set(ap[q]))
        total += len(ex[q])
        for v, c in ap[q].items():
            if v in ex[q]:
                assert ex[q][v] == c  # rerank cosine == exact cosine
    assert overlap / total >= 0.6, f"PQ recall too low: {overlap}/{total}"


def test_pq_train_deterministic():
    import numpy as np

    from cbor_ld_spark.operators.similarity import pq_train

    rng = np.random.default_rng(3)
    sample = rng.normal(size=(200, 16))
    s1, b1 = pq_train(sample, 4, 8, 5)
    s2, b2 = pq_train(sample, 4, 8, 5)
    assert all((a == b).all() for a, b in zip(b1, b2))
    assert [list(c) for c in s1] == [list(c) for c in s2]
    # subspaces partition the dims
    assert sorted(int(x) for c in s1 for x in c) == list(range(16))


def test_pq_topk_plan_hygiene(spark):
    """PQ: exactly ONE Python stage (the encode+ADC-score mapInArrow);
    candidate join-back and query join are broadcast (the corpus never
    shuffles for the join); no row-at-a-time Python."""
    from cbor_ld_spark.operators.similarity import pq_topk

    out = pq_topk(spark, "/root/testdata/sf0.001")
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan



@pytest.mark.parametrize("tier, kwargs", [
    ("lsh_topk", {"n_queries": 5, "k": 5}),
    ("ivf_topk", {"n_queries": 5, "k": 5}),
    ("pq_topk", {}),
], ids=["lsh", "ivf", "pq"])
def test_approximate_tiers_rerank_exactly(spark, tier, kwargs):
    """Every approximate tier returns the exact cosine of each pair it
    keeps, ranks 1..n per query, and rows sorted by query then by
    (cosine desc, vec_id): the candidates differ, the ranking does not."""
    from cbor_ld_spark.operators import similarity

    every = {(r["query_id"], r["vec_id"]): r["cosine"] for r in
             similarity.cosine_topk(spark, SF, n_queries=5,
                                    k=10 ** 6).collect()}
    rows = getattr(similarity, tier)(spark, SF, **kwargs).collect()
    assert rows
    for r in rows:
        assert r["cosine"] == every[(r["query_id"], r["vec_id"])]
    keys = [(r["query_id"], -r["cosine"], r["vec_id"]) for r in rows]
    assert keys == sorted(keys)
    ranks = {}
    for r in rows:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    assert all(v == list(range(1, len(v) + 1)) for v in ranks.values())


_TOPK = ["query_id", "rank", "vec_id", "cosine"]
_PAIRS = ["vec_a", "vec_b", "cosine"]


@pytest.mark.parametrize("module, name, columns", [
    pytest.param(module, name, columns, id=name)
    for module, name, columns in [
        ("similarity", "cosine_topk", _TOPK),
        ("similarity", "lsh_topk", _TOPK),
        ("similarity", "ivf_topk", _TOPK),
        ("similarity", "pq_topk", _TOPK),
        ("dedup", "embedding_near_duplicates", _PAIRS),
        ("dedup", "embedding_near_duplicates_blocked", _PAIRS),
        ("dedup", "embedding_near_duplicates_lsh", _PAIRS),
    ]])
def test_empty_embeddings_give_empty_frames(spark, tmp_path_factory,
                                            module, name, columns):
    """An empty embeddings table is a corpus with no neighbours: every
    vector operator returns no rows under its usual columns."""
    import importlib

    op = getattr(importlib.import_module(
        f"cbor_ld_spark.operators.{module}"), name)
    sf = tmp_path_factory.getbasetemp() / "empty_embeddings"
    if not sf.exists():
        spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        ).write.parquet(str(sf / "embeddings.parquet"))
    out = op(spark, str(sf))
    assert out.columns == columns
    assert out.collect() == []
