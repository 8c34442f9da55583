"""Streaming state-partition sizing: the session's shuffle partitions
are an upper bound, including a session deliberately set below 4."""

import pytest

from cbor_ld_spark.streaming.tuning import stream_state_partitions


class _Session:
    def __init__(self, shuffle_partitions: int):
        self.conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}


@pytest.mark.parametrize("cur,rows,want", [
    (2, 100, 2),          # below the floor of 4: the session value wins
    (1, 10**6, 1),
    (3, None, 3),
    (8, 100, 4),          # tiny state: the floor
    (8, 50_000, 5),       # ~10k rows per state partition
    (8, 10**6, 8),        # capped by the session
])
def test_state_partitions_never_exceed_session(monkeypatch, cur, rows, want):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    assert stream_state_partitions(_Session(cur), rows) == want
