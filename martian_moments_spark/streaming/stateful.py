"""Custom stateful streaming operator: applyInPandasWithState.

The arbitrary-stateful surface beyond windowed aggregation — per-key
state that survives across micro-batches (here: a running per-user
activity accumulator with a high-value alert flag). The reference has
no analog (its only cross-batch state is the warehouse itself); this
is the engine's answer for streaming logic that windows can't express.

Scale: state lives in the state store partitioned by the grouping key
— one shuffle per batch on user_id; state size is O(distinct keys),
each entry a few counters.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id BIGINT, batch_events BIGINT, total_events BIGINT, "
    "total_value DOUBLE, high_value_alert BOOLEAN"
)
STATE_SCHEMA = "total_events BIGINT, total_value DOUBLE"


def _accumulate(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    total_events, total_value = state.get if state.exists else (0, 0.0)
    batch_events = 0
    for pdf in pdfs:
        batch_events += len(pdf)
        # fixed-point cents keep the running sum deterministic across
        # batch orderings (same rule as functions.numeric).
        total_value += round(pdf["value"].mul(100).round().sum()) / 100.0
    total_events += batch_events
    state.update((total_events, total_value))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "batch_events": [batch_events],
            "total_events": [total_events],
            "total_value": [total_value],
            "high_value_alert": [total_value > 1000.0],
        }
    )


def running_user_totals(stream_df: DataFrame) -> DataFrame:
    """Per-user running totals across micro-batches with an alert
    threshold — emits one update row per active user per batch."""
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _accumulate,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, n_events BIGINT"
)
SESSION_STATE_SCHEMA = "start_us BIGINT, end_us BIGINT, n_events BIGINT"


def _close_row(user_id: int, start_us: int, end_us: int, n: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start": [pd.to_datetime(start_us, unit="us")],
            "session_end": [pd.to_datetime(end_us, unit="us")],
            "n_events": [n],
        }
    )


def _sessionize(
    gap_us: int,
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """One open session per key in state; a batch's rows (sorted by
    event time) either extend it or close it and open the next. The
    open session closes through the EVENT-TIME TIMEOUT: when the
    watermark passes session_end + gap, Spark invokes this function
    with hasTimedOut and no data, and the final session is emitted —
    the state-expiry path windows can't express.

    DO-NOT-RETRY (r08, measured 3x — tools_sessionize_ab.py at commit
    ba0d9f5 / STREAM_SCALE.md): replacing this per-event loop with a numpy
    diff segment scan + single close-frame measured 0.92x at the
    default trigger and no reliable win even at a 5 s trigger
    (~100 events/group) — the operator is dispatch-bound, not
    loop-bound. The measured lever is MICRO-BATCH SIZING: a 5 s
    processingTime trigger gained ~1.5x by amortizing per-group
    Arrow transfer + pandas dispatch."""
    (user_id,) = key
    if state.hasTimedOut:
        start_us, end_us, n = state.get
        state.remove()
        yield _close_row(user_id, start_us, end_us, n)
        return

    open_s = list(state.get) if state.exists else None
    times: list[int] = []
    for pdf in pdfs:
        times.extend(int(t) for t in pdf["ts"].astype("int64") // 1000)
    for t_us in sorted(times):
        if open_s is None:
            open_s = [t_us, t_us, 0]
        elif t_us > open_s[1] + gap_us:
            yield _close_row(user_id, open_s[0], open_s[1], open_s[2])
            open_s = [t_us, t_us, 0]
        open_s[1] = max(open_s[1], t_us)
        open_s[2] += 1

    if open_s is None:  # defensive: invoked with neither data nor state
        return
    wm_ms = state.getCurrentWatermarkMs()
    timeout_ms = (open_s[1] + gap_us) // 1000
    if timeout_ms <= wm_ms:
        # the watermark already passed this session's horizon (all of
        # its rows arrived barely inside the allowed lateness): a
        # timeout set in the past would be rejected — close it now.
        yield _close_row(user_id, open_s[0], open_s[1], open_s[2])
        state.remove()
    else:
        state.update(tuple(open_s))
        state.setTimeoutTimestamp(timeout_ms)


#: Measured-best micro-batch trigger for the sessionize seam (r08
#: A/B, STREAM_SCALE.md): a 5 s processingTime trigger gained ~1.5x
#: throughput over the default ASAP trigger by amortizing per-group
#: Arrow transfer + pandas dispatch (~20 -> ~100 events per group per
#: batch); the numpy-vectorized rewrite measured 0.91x and is a
#: recorded do-not-retry. Pass to the writer:
#:     df.writeStream.trigger(processingTime=SESSIONIZE_TRIGGER)
SESSIONIZE_TRIGGER = "5 seconds"


def streaming_sessionize(
    stream_df: DataFrame, gap_minutes: int = 30, watermark: str = "15 minutes"
) -> DataFrame:
    """Streaming sessionization with state expiry (the stateful twin of
    plans.queries_analytics sessionize_events): events within
    ``gap_minutes`` of the session's end extend it; a session is
    emitted exactly once, either when a later event of the same key
    overshoots the gap, or when the event-time watermark passes
    session_end + gap and the state times out. ``stream_df`` needs
    (user_id, ts).

    OPERATING POINT: sessionization latency is bounded below by the
    gap anyway, so run the sink at the measured-best
    ``trigger(processingTime=SESSIONIZE_TRIGGER)`` (5 s, +1.5x
    throughput — the r08 A/B above) rather than the ASAP default;
    tools_stream_smoke.py measures at that trigger by default.

    Scale: state is one (start, end, count) triple per ACTIVE key —
    closed sessions leave the store immediately, and the timeout sweep
    is the state store's own index scan, not a full iteration. One
    shuffle per batch on user_id, same as any keyed stateful op."""
    import functools

    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            functools.partial(_sessionize, gap_minutes * 60_000_000),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
