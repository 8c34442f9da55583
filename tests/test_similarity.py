"""ANN operators: brute-force baseline vs LSH and IVF approximations."""

import os

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


def _lane_norm(v):
    """``l2_norm``'s documented order in plain Python floats."""
    import math

    n8 = len(v) - len(v) % 8
    r = [0.0] * 8
    for i in range(n8):
        r[i % 8] += v[i] * v[i]
    total = ((r[0] + r[2]) + (r[4] + r[6])) + ((r[1] + r[3]) + (r[5] + r[7]))
    for x in v[n8:]:
        total += x * x
    return math.sqrt(total)


@pytest.mark.parametrize("dim", [1, 3, 8, 13, 64, 100, 777])
def test_l2_norm_sums_in_documented_order(dim):
    """``l2_norm`` is bit-equal to its documented lane order; a BLAS dot
    (``np.linalg.norm``) or numpy's pairwise ``np.sum`` rounds some of
    these vectors differently."""
    import numpy as np

    from cbor_ld_spark.operators.similarity import l2_norm

    rng = np.random.default_rng(dim)
    for v in rng.standard_normal((200, dim)) * rng.uniform(0.01, 100, dim):
        assert l2_norm(v) == _lane_norm([float(x) for x in v]), v


def _openblas_dynamic_x86():
    """True for an x86-64 numpy on an OpenBLAS built with DYNAMIC_ARCH=1,
    the only build whose dot kernel ``OPENBLAS_CORETYPE`` selects."""
    import platform

    import numpy as np

    if platform.machine().lower() not in ("x86_64", "amd64"):
        return False
    try:
        blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    except (TypeError, KeyError):  # numpy < 1.26: no "dicts" mode
        return False
    return ("openblas" in str(blas.get("name", "")).lower()
            and "DYNAMIC_ARCH=1" in str(blas.get("openblas configuration")))


@pytest.mark.skipif(not os.path.isdir("/root/testdata/sf0.01"),
                    reason="sf0.01 absent")
@pytest.mark.skipif(not _openblas_dynamic_x86(),
                    reason="numpy's BLAS is not OpenBLAS DYNAMIC_ARCH=1 "
                           "on x86-64: its kernel cannot be chosen")
def test_ivf_oracle_text_same_across_blas_kernels():
    """The IVF oracle's centroid literals do not depend on the dot kernel
    OpenBLAS picks for the CPU: the SSE2 kernel and this host's default
    give the same text."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import hashlib, __spark_entry__ as E; print(hashlib.sha256("
            "E._ivf_topk_oracle(sf_dir='/root/testdata/sf0.01')"
            ".encode()).hexdigest())")
    digests = []
    for coretype in ("Prescott", None):
        env = {k: v for k, v in os.environ.items()
               if k != "OPENBLAS_CORETYPE"}
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p)
        if coretype:
            env["OPENBLAS_CORETYPE"] = coretype
        out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                             capture_output=True, text=True, timeout=600)
        assert out.returncode == 0, out.stderr
        digests.append(out.stdout.split()[-1])
    assert digests[0] == digests[1], digests


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
