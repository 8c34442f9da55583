"""Session-scoped shared triples tier (plans/shared.py): one kernel
materialization feeds the whole graph-query family."""

import pytest  # noqa: F401


def test_shared_triples_single_materialization(spark):
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples

    clear_shared_triples()
    try:
        a = shared_triples(spark, "/root/testdata/sf0.001")
        b = shared_triples(spark, "/root/testdata/sf0.001")
        assert a is b  # cache hit: the SAME materialized frame
        # lineage is cut: downstream actions scan the checkpointed RDD,
        # the Python kernel never re-runs
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "MapInArrow" not in plan and "BatchEvalPython" not in plan
    finally:
        clear_shared_triples()


def test_shared_triples_matches_direct_derivation(spark):
    from cbor_ld_spark.operators import process_corpus, triples_table
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples
    from cbor_ld_spark.sources import corpus_from_documents

    clear_shared_triples()
    try:
        shared = shared_triples(spark, "/root/testdata/sf0.001")
        direct = triples_table(
            process_corpus(corpus_from_documents(
                spark, "/root/testdata/sf0.001")))
        assert shared.columns == direct.columns
        key = [c for c in shared.columns]
        assert (sorted(map(tuple, shared.select(*key).collect()))
                == sorted(map(tuple, direct.select(*key).collect())))
    finally:
        clear_shared_triples()


def test_shared_triples_keyed_by_dir_and_clearable(spark):
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples
    from cbor_ld_spark.plans.shared import _TIERS

    clear_shared_triples()
    try:
        a = shared_triples(spark, "/root/testdata/sf0.001")
        b = shared_triples(spark, "/root/testdata/sf0.01")
        assert a is not b
        # each dir's triples tier and the kernel pass it derives from
        assert sorted(k[1] for k in _TIERS) == ["docs", "docs",
                                                "triples", "triples"]
        assert len({k[2] for k in _TIERS}) == 2
        clear_shared_triples()
        assert not _TIERS
        c = shared_triples(spark, "/root/testdata/sf0.001")
        assert c is not a  # fresh materialization after clear
    finally:
        clear_shared_triples()


def test_shared_canonical_triples_single_materialization(spark):
    from cbor_ld_spark.plans import (
        clear_shared_triples,
        shared_canonical_triples,
    )

    clear_shared_triples()
    try:
        a = shared_canonical_triples(spark, "/root/testdata/sf0.001")
        b = shared_canonical_triples(spark, "/root/testdata/sf0.001")
        assert a is b
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "MapInArrow" not in plan and "BatchEvalPython" not in plan
    finally:
        clear_shared_triples()


def test_shared_canonical_matches_direct(spark):
    from cbor_ld_spark.operators import (
        canonical_triples,
        process_corpus,
        triples_table,
    )
    from cbor_ld_spark.plans import (
        clear_shared_triples,
        shared_canonical_triples,
    )
    from cbor_ld_spark.sources import corpus_from_documents

    clear_shared_triples()
    try:
        shared = shared_canonical_triples(spark, "/root/testdata/sf0.001")
        docs = process_corpus(corpus_from_documents(
            spark, "/root/testdata/sf0.001"), canonical=True)
        direct = canonical_triples(triples_table(docs), docs)
        assert shared.columns == direct.columns
        assert (sorted(map(tuple, shared.collect()))
                == sorted(map(tuple, direct.collect())))
    finally:
        clear_shared_triples()


def test_shared_triples_built_once_by_concurrent_callers(spark, monkeypatch):
    """Eight threads (more than the session's four cores) of one session
    ask for the same cold triples tier at once: the per-key build lock
    makes them share one build, so the kernel pass (``process_corpus``
    and its MapInArrow stage) runs exactly once and every caller gets
    the same materialized frame."""
    import sys
    import threading

    import cbor_ld_spark.operators as ops
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples

    kernel_passes = []
    real = ops.process_corpus

    def counted(*args, **kwargs):
        kernel_passes.append(threading.current_thread().name)
        return real(*args, **kwargs)

    monkeypatch.setattr(ops, "process_corpus", counted)
    n = 8
    start = threading.Barrier(n, timeout=60)
    got, errors = [], []

    def call():
        try:
            start.wait()
            got.append(shared_triples(spark, "/root/testdata/sf0.001"))
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    clear_shared_triples()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' memo checks
    try:
        threads = [threading.Thread(target=call) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert len(kernel_passes) == 1, kernel_passes
        assert len(got) == n and all(df is got[0] for df in got)
    finally:
        sys.setswitchinterval(switch)
        clear_shared_triples()
