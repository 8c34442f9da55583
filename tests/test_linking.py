"""Connected components: driver and distributed paths, chain convergence."""

import pytest


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _chain(n):
    return [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)]


def test_driver_path_chain(spark):
    from cbor_ld_spark.operators.linking import connected_components

    comp = connected_components(_edges(spark, _chain(50))).collect()
    assert {r["component"] for r in comp} == {"n0000"}
    assert len(comp) == 50


def test_distributed_path_matches_driver(spark):
    from cbor_ld_spark.operators.linking import _cc_loop, connected_components

    pairs = _chain(60) + [("a", "b"), ("b", "c"), ("z", "z")]
    driver = {(r["id"], r["component"]) for r in
              connected_components(_edges(spark, pairs)).collect()}
    # force the distributed loop; 60-hop chain needs pointer jumping to
    # converge within 25 rounds (flooding alone would need 59)
    dist = {(r["id"], r["component"]) for r in
            _cc_loop(_edges(spark, pairs), 25).collect()}
    assert dist == driver


def test_distributed_nonconvergence_raises(spark):
    from cbor_ld_spark.operators.linking import _cc_loop

    with pytest.raises(RuntimeError, match="converge"):
        _cc_loop(_edges(spark, _chain(40)), 2)
