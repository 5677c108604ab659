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


# --- transformWithState (Spark 4 arbitrary-state API) ---------------------
#
# The successor surface to applyInPandasWithState: typed state primitives
# (ValueState / ListState / MapState) + event/processing-time timers on a
# StatefulProcessor object. Same scale shape — state partitioned by the
# group key, shuffled once, updated locally with Arrow batches.
#
# Runtime note: the operator's state server speaks protobuf, and its
# per-key typed states map to state-store column families, which only the
# RocksDB provider supports. Both are resolved at runtime:
# internal/protobuf_compat.py makes google.protobuf importable from a
# container-bundled pure-Python runtime when no installed one exists, and
# enable_typed_state() switches the session to the RocksDB provider — so
# the REAL state-server path runs end-to-end in this container's test
# suite (tests/test_streaming.py::test_stateful_event_type_counts_e2e),
# with the applyInPandasWithState fallback kept for builds where neither
# is available.

TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
    ]
)


try:  # Spark ≥4.0 only; keep the module importable everywhere
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
except ImportError:  # pragma: no cover
    StatefulProcessor = object  # type: ignore[assignment,misc]


class EventTypeCounts(StatefulProcessor):
    """Per-user MapState[event_type → count], emitted (full map) on every
    batch the user appears in — the reference's eager per-key HashMap
    accumulator (ListenerReducer.java:123-139) with a two-level key,
    rebuilt on the typed-state API."""

    def init(self, handle) -> None:
        self.counts = handle.getMapState(
            "counts",
            StructType([StructField("event_type", StringType())]),
            StructType([StructField("n", LongType())]),
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        (user_id,) = key
        for pdf in rows:
            for et, cnt in pdf["event_type"].value_counts().items():
                k = (et,)
                prev = self.counts.getValue(k)[0] if self.counts.containsKey(k) else 0
                self.counts.updateValue(k, (prev + int(cnt),))
        items = sorted((k[0], v[0]) for k, v in self.counts.iterator())
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(items),
                "event_type": [k for k, _ in items],
                "n_events": [v for _, v in items],
            }
        )

    def close(self) -> None:
        pass


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _typed_state_ready(spark) -> bool:
    """Can transformWithStateInPandas run on THIS session right now?
    Requires (a) an importable google.protobuf for the state-server wire
    protocol and (b) the RocksDB state-store provider (the typed states'
    column families are unsupported by HDFSBackedStateStoreProvider)."""
    from slr207_mapreduce_spark.internal.protobuf_compat import ensure_protobuf

    if not ensure_protobuf():
        return False
    prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    return "RocksDB" in prov


def enable_typed_state(spark) -> bool:
    """Opt a session into the typed-state engine: resolve protobuf, then
    set the RocksDB provider (a runtime SQL conf, read per query start —
    only NEW streaming queries from fresh checkpoints are affected).
    Returns whether the typed path is now selectable."""
    from slr207_mapreduce_spark.internal.protobuf_compat import ensure_protobuf

    if not ensure_protobuf():
        return False
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    return _typed_state_ready(spark)


def selected_engine(spark) -> str:
    """Which engine user_event_type_counts will pick on this session:
    'typed' (transformWithStateInPandas) or 'fallback'
    (applyInPandasWithState)."""
    return "typed" if _typed_state_ready(spark) else "fallback"


# Fallback state layout for builds without the transformWithState state
# server (google.protobuf missing): the MapState[event_type → count] is
# carried as two parallel arrays inside applyInPandasWithState's GroupState.
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
    """Running per-(user, event_type) counts — MapState semantics, emitted
    as the full sorted map for every user seen in a batch (update mode).

    Engine selection is a runtime capability check: the Spark-4 typed-state
    surface (transformWithStateInPandas + MapState) when its protobuf state
    server and the RocksDB provider are available on this session, else the
    applyInPandasWithState fallback carrying the map as array-typed
    GroupState. Same semantics either way — the streaming e2e test runs
    unconditionally against THIS function (asserting the typed engine was
    the one exercised wherever protobuf resolves), and the typed-state
    processor keeps its protobuf-free unit test (tests/test_streaming.py)."""
    keyed = events.withWatermark("ts", watermark).groupBy("user_id")
    if _typed_state_ready(events.sparkSession):
        return keyed.transformWithStateInPandas(
            statefulProcessor=EventTypeCounts(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    return keyed.applyInPandasWithState(
        _update_event_type_counts,
        outputStructType=TWS_OUTPUT_SCHEMA,
        stateStructType=_ETC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
