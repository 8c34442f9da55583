"""Streaming state-store sizing (optimization guide §2.2/§9).

A stateful streaming query creates one state-store instance per shuffle
partition, and every micro-batch pays per-partition costs that are
independent of data volume: state-store init, delta + snapshot files
under the checkpoint, and commit-log entries.  With the session default
(32 partitions) a tiny-state query spends more wall time on state-store
file I/O than on data: the windowed-parity query measured 5.4-9.7 s at
32 state partitions vs 3.0-3.5 s at 4, same results.

The right number scales with STATE SIZE (distinct keys x bytes), not
with the core count, so the helper derives it from the known input row
count (~10k rows per state partition, at least 4), never above the
session's shuffle parallelism, and is env-overridable for production
deployments (``SPARK_GRAFT_STREAM_STATE_PARTITIONS``).  The partition count is
pinned into the query's checkpoint by Spark on first start, so restarts
resume with the recorded value regardless of session conf.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

ROWS_PER_STATE_PARTITION = 10_000


def stream_state_partitions(spark, rows: int | None) -> int:
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if env:
        return max(1, int(env))
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if rows is None:
        return cur
    # the session value stays an upper bound, also when it is below 4
    return min(cur, max(4, -(-rows // ROWS_PER_STATE_PARTITION)))


@contextmanager
def scoped_state_partitions(spark, rows: int | None):
    """Temporarily size ``spark.sql.shuffle.partitions`` for the
    stateful streaming queries started inside the block; restores the
    session value afterwards.  The streaming checkpoint records the
    count at first start, so both runs of a two-run parity query see
    the same state layout."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(stream_state_partitions(spark, rows)))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
