"""Custom stateful streaming operator via applyInPandasWithState — the
generalization of the reference's eager per-key accumulator reduce
(/root/reference/ListenerReducer.java:123-139: counts update as records
arrive, state lives across the whole stream).

``running_user_totals`` keeps (count, sum) per user across micro-batches —
the arbitrary-stateful-op surface (GroupState + Arrow-batched pandas).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user running (count, sum) maintained in GroupState across
    micro-batches; emits the updated totals for every user seen in a batch.
    Works on a streaming DataFrame; state is partitioned by user (shuffle on
    the group key once, then local updates — the scalable stateful shape).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- Event-time timeout: closed-session finalization ----------------------

SESSION_GAP_MS = 30 * 60 * 1000

CLOSED_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
    ]
)


def _merge_on_gaps(
    intervals: list[tuple[int, int, int]],
) -> list[tuple[int, int, int]]:
    """Merge (start_ms, last_ms, n) intervals whose gap is <= SESSION_GAP_MS;
    anything further apart stays a separate session (the 30-min contract)."""
    merged: list[tuple[int, int, int]] = []
    for s, l, n in sorted(intervals):
        if merged and s <= merged[-1][1] + SESSION_GAP_MS:
            ps, pl, pn = merged[-1]
            merged[-1] = (ps, max(pl, l), pn + n)
        else:
            merged.append((s, l, n))
    return merged


def _session_frame(user_id: int, sessions: list[tuple[int, int, int]]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series([user_id] * len(sessions), dtype="int64"),
            "session_start_ms": pd.Series([s for s, _, _ in sessions], dtype="int64"),
            "session_end_ms": pd.Series([l for _, l, _ in sessions], dtype="int64"),
            "n_events": pd.Series([n for _, _, n in sessions], dtype="int64"),
        }
    )


def _finalize_sessions(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Gap-aware session finalization (fixes the r5 ADVICE medium bug).

    State is the user's list of OPEN sub-sessions, not one folded (min,max)
    range: each batch's events merge with the open intervals on the
    30-minute gap rule, so two events hours apart in one micro-batch — or
    arriving across batches before the timeout fires — stay separate
    sessions. A sub-session is emitted exactly once, when the watermark
    passes its (last event + gap): at that point no in-watermark event can
    extend it, so the emission is final and matches the batch
    events_sessionization contract on the same data."""
    (user_id,) = key
    wm = state.getCurrentWatermarkMs()
    open_sessions: list[tuple[int, int, int]] = []
    if state.exists:
        starts, lasts, ns = state.get
        open_sessions = [(int(s), int(l), int(n)) for s, l, n in zip(starts, lasts, ns)]
    if not state.hasTimedOut:
        for pdf in pdfs:
            ts_ms = pdf["ts"].astype("int64") // 1_000_000
            open_sessions.extend((int(t), int(t), 1) for t in ts_ms)
    merged = _merge_on_gaps(open_sessions)
    # Strict <, not <=: an on-time event may carry ts == wm, and a gap of
    # exactly SESSION_GAP_MS merges (the batch rule is gap <= GAP), so a
    # sub-session whose last+GAP == wm is still extendable and must stay
    # open — closing it would emit a spurious extra session at the boundary.
    closed = [iv for iv in merged if iv[1] + SESSION_GAP_MS < wm]
    still_open = [iv for iv in merged if iv[1] + SESSION_GAP_MS >= wm]
    if still_open:
        state.update(
            (
                [s for s, _, _ in still_open],
                [l for _, l, _ in still_open],
                [n for _, _, n in still_open],
            )
        )
        # Wake when the earliest open sub-session's gap elapses. The engine
        # requires a timeout strictly beyond the current watermark; a
        # sub-session already older than that closes at the next tick.
        state.setTimeoutTimestamp(
            max(min(l + SESSION_GAP_MS for _, l, _ in still_open), wm + 1)
        )
    else:
        state.remove()
    yield _session_frame(user_id, closed)


def closed_user_sessions(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Per-user session finalization with EVENT-TIME TIMEOUT — the stateful
    pattern session_window cannot express: nothing is emitted while a
    session is live; when the watermark passes (last event + 30 min gap)
    the sub-session is emitted exactly once and pruned from state. State
    per key is the list of OPEN sub-sessions (three longs each) — bounded
    by active users × in-flight gaps inside the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _finalize_sessions,
            outputStructType=CLOSED_SESSION_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- Per-user event-type map: the two-level eager accumulator -------------
#
# The reference's per-key HashMap accumulator (ListenerReducer.java:123-139)
# with a (user, event_type) key: applyInPandasWithState partitions state by
# user_id, shuffles once, and folds each micro-batch's Arrow chunks into the
# user's event_type -> count map.

EVENT_TYPE_COUNTS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
    ]
)
# The event_type -> count map as two parallel arrays (GroupState holds a
# row, not a map).
_ETC_STATE_SCHEMA = StructType(
    [
        StructField("event_types", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def _update_event_type_counts(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    counts: dict[str, int] = {}
    if state.exists:
        types, ns = state.get
        counts = dict(zip(types, (int(n) for n in ns)))
    for pdf in pdfs:
        for et, cnt in pdf["event_type"].value_counts().items():
            counts[et] = counts.get(et, 0) + int(cnt)
    items = sorted(counts.items())
    state.update(([k for k, _ in items], [v for _, v in items]))
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(items),
            "event_type": [k for k, _ in items],
            "n_events": [v for _, v in items],
        }
    )


def user_event_type_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Running per-(user, event_type) counts, emitted as the user's full
    map sorted by event_type for every user seen in a batch (update mode).

    State layout: one GroupState row per user holding two parallel arrays
    (event_types, counts). A user's state therefore grows with the number
    of distinct event_type values, not with the number of events; it is
    never timed out, so the key space (users) bounds the store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_event_type_counts,
            outputStructType=EVENT_TYPE_COUNTS_SCHEMA,
            stateStructType=_ETC_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
