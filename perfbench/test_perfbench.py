"""Self-tests of the benchmark's own parts.

    python3 -m pytest perfbench -q

The Spark test starts a small local session with the event log on.
"""

from __future__ import annotations

import collections
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402
from perfbench.trace import Tracer, event_log_files, reduce_event_log  # noqa: E402


def _bytes(tmp_path, name, rows):
    path = tmp_path / name
    corpus.write_parquet(rows, str(path))
    return path.read_bytes()


def _mix(rows):
    return collections.Counter((r.kind, r.label) for r in rows)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _bytes(tmp_path, "a.parquet", corpus.generate(7, 600))
    b = _bytes(tmp_path, "b.parquet", corpus.generate(7, 600))
    assert a == b


def test_other_seed_gives_other_bytes_same_mix(tmp_path):
    r7 = corpus.generate(7, 600)
    r8 = corpus.generate(8, 600)
    assert (_bytes(tmp_path, "a.parquet", r7)
            != _bytes(tmp_path, "b.parquet", r8))
    assert _mix(r7) == _mix(r8)
    assert len({r.content for r in r7}) == len({r.content for r in r8}) == 600


def test_duplicate_heavy_share_is_stable():
    for seed in (1, 2):
        rows = corpus.generate(seed, 2000, 0.05)
        assert len({r.content for r in rows}) == 100
        assert len({(r.repo, r.path) for r in rows}) == 2000


def test_generated_documents_meet_their_expectations():
    from cbor_ld_spark.functions.udfs import _process_one

    for r in corpus.generate(3, 300):
        if r.kind == "distractor":
            continue
        out = _process_one(r.content, 1, True)
        if r.kind == "bad":
            assert not out[1] and out[3] == corpus.BAD_KINDS[r.label], r.label
        else:
            assert out[1] and out[6] and out[7] > 0, (r.label, out[2])


def test_self_time_subtracts_children():
    t = Tracer("r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.path == "outer/inner" and inner.parent == outer.id
    st = t.self_times()
    assert st["outer"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start))


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]")
             .appName("perfbench-selftest")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + str(log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    yield spark, str(log_dir)
    spark.stop()


def test_reducer_attributes_kernel_work_to_its_span(traced_spark, tmp_path):
    from pyspark.sql import functions as F

    from cbor_ld_spark.operators import process_corpus, triples_table

    spark, log_dir = traced_spark
    rows = corpus.generate(5, 200)
    path = str(tmp_path / "repos.parquet")
    corpus.write_parquet(rows, path)
    tracer = Tracer("selftest", spark)
    with tracer.span("outer"):
        with tracer.span("kernel"):
            n = triples_table(process_corpus(spark.read.parquet(path))).count()
        with tracer.span("plain"):
            spark.range(1000).agg(F.sum("id")).collect()
    assert n > 0
    spark.stop()  # closes the log file

    groups = reduce_event_log(event_log_files(log_dir), python_node="t_subj")
    kernel = groups["outer/kernel"]
    candidates = sum(r.kind != "distractor" for r in rows)
    assert kernel.jobs > 0 and kernel.tasks > 0
    assert kernel.python_stages >= 1 and kernel.python_tasks >= 1
    assert kernel.python_rows == candidates
    assert kernel.python_in_mb > 0 and kernel.python_run_s > 0
    plain = groups["outer/plain"]
    assert plain.jobs >= 1 and plain.python_tasks == 0
