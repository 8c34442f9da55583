"""The package never mutates the caller's session conf: Spark's own
``spark.sql.shuffle.partitions`` sizes streaming state, and a concurrent
query on the same session reads the value its owner set."""

import ast
import pathlib
import threading

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "cbor_ld_spark"


def test_stream_parity_leaves_session_conf_alone(spark):
    """A second thread polls the shuffle partitions while a stateful
    stream-parity query runs: it only ever reads the session's value,
    and the whole conf reads the same afterwards."""
    import __spark_entry__ as E

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.getAll
    seen = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            done.wait(0.01)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        row = E._stream_dedup_parity(spark, "/root/testdata/sf0.001").first()
    finally:
        done.set()
        poller.join()
    assert row["parity"]
    assert seen == {before[key]}, seen
    assert spark.conf.getAll == before


def _conf_mutations(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    return [f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"]


def test_package_never_sets_session_conf():
    """No module under ``cbor_ld_spark/`` calls ``<x>.conf.set(...)`` or
    ``.conf.unset(...)``: a library call that rewrites session-wide
    settings races every other query on the session.  Scripts under
    ``jobs/`` own their sessions and are outside the package."""
    hits = [hit for path in sorted(PACKAGE.rglob("*.py"))
            for hit in _conf_mutations(path)]
    assert hits == []
