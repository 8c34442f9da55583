"""Stateful streaming: gap sessionization of the event stream.

``session_stream`` is the package's one custom stateful operator
(``applyInPandasWithState``, the one pandas boundary left in
``cbor_ld_spark/``): per user, the open session lives in the state
store across micro-batches and restarts, and a session row is emitted
the moment a later event closes it.  State is one tuple per user —
bounded by user cardinality, partitioned by the group key.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.udfs import python_task

SESSION_STATE_SCHEMA = StructType([
    StructField("start_tl", LongType(), False),
    StructField("last_tl", LongType(), False),
    StructField("n_events", LongType(), False),
    StructField("value_milli", LongType(), False),  # sum(value)*1000, exact
    StructField("session_seq", LongType(), False),
])

SESSION_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("session_seq", LongType(), False),
    StructField("n_events", LongType(), False),
    StructField("start_tl", LongType(), False),
    StructField("duration_secs", LongType(), False),
    StructField("value_milli", LongType(), False),
])


def _session_update_fn(gap_secs: int):
    @python_task
    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # not used (NoTimeout) — defensive
            state.remove()
            return
        if state.exists:
            start, last, n, vm, seq = state.get
        else:
            start = last = -1
            n = vm = 0
            seq = 0
        closed = []
        rows = pd.concat(list(pdfs)).sort_values("tl")
        for tl, vmilli in zip(rows["tl"], rows["vmilli"]):
            tl, vmilli = int(tl), int(vmilli)
            if last >= 0 and tl < last:
                # Cross-batch out-of-order event (sorting is per micro-batch
                # only).  Two cases:
                #   * within the open session's own gap window
                #     (tl >= start - gap): merge it in without moving the
                #     session clock backwards — closed sessions are never
                #     reopened and durations can never go negative;
                #   * older than start - gap: it cannot belong to the open
                #     session under the gap rule, and folding it in would
                #     stretch the open session backwards over an
                #     already-emitted closed one.  Late-data DROP — the
                #     same semantics a watermark would enforce.
                # A batch replay over the full ordered history may split
                # sessions differently around merged stragglers; that
                # residual is inherent to unbuffered streaming
                # sessionization.
                if tl < start - gap_secs:
                    continue
                n += 1
                vm += vmilli
                start = min(start, tl)
                continue
            if last >= 0 and tl - last > gap_secs:
                closed.append((key[0], seq, n, start, last - start, vm))
                seq += 1
                start, n, vm = tl, 0, 0
            if last < 0:
                start = tl
            last = tl
            n += 1
            vm += vmilli
        state.update((start, last, n, vm, seq))
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_OUTPUT_SCHEMA])

    return update


def session_stream(events, checkpoint_dir: str, out_dir: str,
                   gap_minutes: int = 30, available_now: bool = True):
    """Streaming gap sessionization (applyInPandasWithState): the
    stateful twin of ``operators/events.sessionize``.

    Emits a session row the moment a later event of the same user
    closes it (gap exceeded); the still-open tail session per user
    lives in the state store across micro-batches/restarts.  Values
    accumulate as exact milli-units so stream and batch sums agree
    bit-for-bit (floats would drift by accumulation order).  Batch
    parity is pinned by test: closed stream sessions ==
    ``sessionize()`` minus each user's final (still-open) session.

    Scale: state is one tuple per user (bounded by user cardinality);
    events shuffle once on the group key, the same key the batch
    sessionize shuffles on.
    """
    from pyspark.sql import functions as F

    prepared = events.select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").cast("long").alias("tl"),
        F.round(F.col("value") * 1000).cast("long").alias("vmilli"))
    sessions = (
        prepared
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_update_fn(gap_minutes * 60),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ))
    writer = (
        sessions.writeStream
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
