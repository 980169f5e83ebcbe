"""Custom keyed streaming state — the closest surface Spark has to the
reference's MRBG-Store (A11): explicit per-key state read-merge-write on
every arriving micro-batch, through applyInPandasWithState on the
default HDFS-backed state store (no extra deps).

Scale: state lives in the state store (RocksDB provider on clusters —
off-heap, incrementally checkpointed); the function sees one key group
at a time, Arrow-batched, so per-key state never transits the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [StructField("n_events", LongType()), StructField("total_value", DoubleType())]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _running_totals(key, pdf_iter, state: GroupState):
    """Per-user running (count, sum(value)): read preserved state, merge
    the batch's rows, write back, emit the updated total — the literal
    MRBG read-merge-write cycle per affected key."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})


def running_totals_transform(stream: DataFrame) -> DataFrame:
    """Wire the stateful fold into a stream grouped by user (update mode:
    one refreshed row per user per micro-batch that touched it)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Custom stateful sessionization with EVENT-TIME TIMEOUT — the state-eviction
# half of A11 that running_totals (NoTimeout) does not exercise: open sessions
# are held in keyed state and CLOSED BY THE WATERMARK when no event arrives
# within the gap, exactly how a production sessionizer bounds its state.

SESSION_GAP_MS = 30 * 60 * 1000

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)
SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _sessionize(key, pdf_iter, state: GroupState):
    """Full sessionization inside keyed state: in-batch rows are split on
    the 30-min gap (sessions wholly inside a batch emit immediately); the
    open tail waits in state with an event-time timer = last event + gap,
    so the watermark — not a row — closes idle sessions and REMOVES their
    state (bounded memory, the A11 eviction contract)."""
    uid = key[0]
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [uid], "start_us": [start_us], "end_us": [last_us], "n": [n]}
        )
        return
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    rows = rows.sort_values("us")
    cur = state.get if state.exists else None  # (start, last, n)
    closed = []
    for us in rows["us"]:
        us = int(us)
        if cur is None:
            cur = (us, us, 1)
        elif us - cur[1] >= SESSION_GAP_MS * 1000:
            # >= : an event exactly GAP after the previous one starts a
            # NEW session, matching the batch sessionize/top-paths queries
            # (>= GAP_US) and native session_window's exclusive window end
            closed.append(cur)
            cur = (us, us, 1)
        else:
            cur = (cur[0], us, cur[2] + 1)
    state.update(cur)
    # event-time timer: fire when watermark passes last-event + gap (ms)
    state.setTimeoutTimestamp(cur[1] // 1000 + SESSION_GAP_MS)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [uid] * len(closed),
                "start_us": [c[0] for c in closed],
                "end_us": [c[1] for c in closed],
                "n": [c[2] for c in closed],
            }
        )


def session_timeout_transform(stream: DataFrame) -> DataFrame:
    """Wire the timeout sessionizer: needs an event-time watermark for
    EventTimeTimeout; emits one row per CLOSED session (append mode)."""
    from pyspark.sql import functions as F

    with_wm = (
        stream.withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", "10 minutes")
        .withColumn("us", F.unix_micros("ts_tz"))
        .select("user_id", "ts_tz", "us")
    )
    return with_wm.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
