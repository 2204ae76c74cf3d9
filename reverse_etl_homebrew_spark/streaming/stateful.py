"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.8; the task's 'custom stateful operators' tier).

``streaming_sessionize`` maintains per-user session state across
micro-batches: events within ``gap`` seconds of the previous event
extend the open session; a larger gap (or state timeout) closes it
and emits a session summary row. This is the semantics
``F.session_window`` gives declaratively — implemented here as an
explicit GroupState machine to prove the engine supports operators
Spark has no built-in for (the escape hatch for bespoke reference
semantics).

``streaming_running_totals`` keeps one running (count, sum) cell per
user and emits the updated totals each micro-batch.

State per key is O(1) (open-session aggregate only), so state-store
size is bounded by active keys — the property that keeps custom
stateful ops viable at 100 TB/day.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.DoubleType()),  # epoch seconds
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def make_sessionizer(gap_seconds: float):
    """Returns the applyInPandasWithState callback closing sessions
    after ``gap_seconds`` of inactivity."""

    def _emit(closed):
        return pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [dt.datetime.utcfromtimestamp(c[1]) for c in closed],
                "session_end": [dt.datetime.utcfromtimestamp(c[2]) for c in closed],
                "n_events": [c[3] for c in closed],
                "total_value": [c[4] for c in closed],
            }
        )

    def sessionize(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key

        # timeout path: the open session expired with no new data —
        # close it, emit, and REMOVE state (re-arming here would spin
        # the cleanup batch forever)
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total = state.get
                state.remove()
                yield _emit([(user_id, start, last + gap_seconds, n, total)])
            return

        # Interval sweep, not a running (start, last) scan (r12
        # disorder probe): the scan form moved `last` BACKWARD on any
        # in-horizon late event (`last = t` unconditionally), so a
        # legitimate out-of-order arrival inside the open session
        # corrupted session_end AND the event-time timeout. Treating
        # the open state as an interval and every event as a 1-point
        # interval, then sweep-merging on the gap, absorbs in-horizon
        # disorder exactly like the batch twin's global sort: in-span
        # events only bump counts, earlier-but-within-gap events
        # extend the session start backward, and the frontier never
        # retreats. Late events that predate the open session by more
        # than a gap close immediately as their own session — the
        # documented boundary (their true sibling may already be
        # emitted; eager gap-close is the pre-existing policy).
        intervals = []
        if state.exists:
            intervals.append(tuple(state.get))
        for p in pdfs:
            for ts, value in zip(p["ts"], p["value"]):
                t = ts.timestamp()
                intervals.append((t, t, 1, float(value)))
        if not intervals:
            return
        intervals.sort(key=lambda iv: (iv[0], iv[1]))
        merged = [list(intervals[0])]
        for s, e, n, tot in intervals[1:]:
            cur = merged[-1]
            if s - cur[1] < gap_seconds:
                cur[1] = max(cur[1], e)
                cur[2] += n
                cur[3] += tot
            else:
                merged.append([s, e, n, tot])
        *closed_iv, open_iv = merged
        closed = [
            (user_id, s, e + gap_seconds, n, tot) for s, e, n, tot in closed_iv
        ]
        start, last, n, total = open_iv
        state.update((start, last, n, total))
        # event-time timeout: close when the watermark passes
        # last_event + gap (fires deterministically as data drains,
        # unlike processing-time timers which would stall an
        # availableNow trigger for the full gap duration)
        state.setTimeoutTimestamp(int((last + gap_seconds) * 1000))
        if closed:
            yield _emit(closed)

    return sessionize


def streaming_sessionize(
    events: DataFrame, gap_seconds: float = 600.0, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """events (user_id, ts TIMESTAMP, value) stream → closed-session
    summaries, one state machine per user. Sessions close either when
    a same-user event arrives past the gap, or when the event-time
    watermark passes session_end (EventTimeTimeout).

    Event-time policy (r10 NULL-robustness probe): an unstamped event
    belongs to no session, so NULL ts rows are dropped BEFORE the
    watermark — Spark's watermark does NOT filter them, they reach the
    pandas state function as NaT, and ``NaT.timestamp()`` KILLS the
    whole streaming query on the first such event. The batch twin
    (operators/windows.session) drops them inside F.session_window;
    this filter keeps stream ≡ batch on dirty streams too."""
    return (
        events.select("user_id", "ts", "value")
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


RUNNING_TOTALS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _running_totals(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum()) if len(pdf) else 0.0
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def streaming_running_totals(events: DataFrame) -> DataFrame:
    """events (user_id, value) stream → one updated running-total row
    per user per micro-batch (Update output), on the
    applyInPandasWithState / GroupState API. State is one fixed-size
    cell per active user — O(active keys), with no expiry."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=RUNNING_TOTALS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
