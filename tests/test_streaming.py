"""Structured Streaming tests: micro-batch replay with manufactured late
rows, diffed against the batch oracle (SURVEY.md §7.2 phase 5)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def batch_dir(spark):
    """Events split into 3 parquet files (micro-batches) by time order, plus
    a 4th file containing rows far OLDER than the watermark at that point
    (manufactured late data)."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    from slr207_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_SMOKE).orderBy("ts").cache()
    rows = ev.count()
    third = rows // 3
    ordered = ev.withColumn(
        "rn", F.row_number().over(__import__("pyspark").sql.Window.orderBy("ts", "event_id"))
    )
    for i in range(3):
        part = ordered.where(
            (F.col("rn") > i * third) & (F.col("rn") <= (i + 1) * third if i < 2 else True)
        ).drop("rn")
        part.coalesce(1).write.parquet(os.path.join(d, f"batch_{i}"))
        # flatten: move part file up with deterministic name ordering
    # rewrite into flat files with lexicographic names so the file source
    # discovers them in batch order
    flat = tempfile.mkdtemp(prefix="stream_flat_")
    idx = 0
    for i in range(3):
        bdir = os.path.join(d, f"batch_{i}")
        for f in sorted(os.listdir(bdir)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(bdir, f), os.path.join(flat, f"{i:02d}_{idx:02d}.parquet"))
                idx += 1
    yield flat
    shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(flat, ignore_errors=True)


def test_tumbling_window_matches_batch_oracle(spark, batch_dir):
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        tumbling_window_counts,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    out = run_to_memory(
        tumbling_window_counts(stream, "1 hour", "10 hours"), "t_tumbling", "append"
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in out.collect()
    }
    ev = load_table(spark, "events", SF_SMOKE)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .collect()
    }
    # availableNow emits only windows closed by the final watermark; every
    # emitted window must match the batch aggregate exactly, and most
    # windows must have been emitted (10h watermark on ~30 days of data).
    assert len(got) > 0.8 * len(want)
    for k, v in got.items():
        assert want[k] == v, f"window {k}: stream={v} batch={want[k]}"


def test_late_rows_are_dropped(spark, batch_dir, tmp_path):
    """Append a file of rows 10 days older than everything seen → with a
    short watermark they fall into closed windows and are dropped."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        tumbling_window_counts,
    )

    ev = load_table(spark, "events", SF_SMOKE)
    late = ev.orderBy("ts").limit(20).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 10 DAYS")
    )
    late.coalesce(1).write.parquet(str(tmp_path / "late"))
    import shutil as sh, os as o

    for f in sorted(o.listdir(tmp_path / "late")):
        if f.endswith(".parquet"):
            sh.copy(str(tmp_path / "late" / f), os.path.join(batch_dir, f"99_{f}"))
    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    out = run_to_memory(
        tumbling_window_counts(stream, "1 hour", "1 hour"), "t_late", "append"
    )
    starts = [r["window_start"] for r in out.collect()]
    min_real_ts = ev.agg(F.min("ts")).collect()[0][0]
    assert all(s >= min_real_ts.replace(minute=0, second=0, microsecond=0) for s in starts), (
        "late (10-day-old) rows leaked into emitted windows"
    )


def test_streaming_dedup_drops_duplicate_ids(spark, tmp_path):
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_dedup,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_SMOKE).orderBy("ts").limit(100).cache()
    d = str(tmp_path / "dup_src")
    ev.coalesce(1).write.parquet(d)
    # duplicate the same rows into a second file
    import os as o, shutil as sh

    files = [f for f in sorted(o.listdir(d)) if f.endswith(".parquet")]
    sh.copy(os.path.join(d, files[0]), os.path.join(d, "zz_dup.parquet"))
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    out = run_to_memory(streaming_dedup(stream, ["event_id"], "10 hours"), "t_dedup")
    n = out.count()
    assert n == 100, f"expected 100 unique events, got {n}"


def test_session_window_stream_runs(spark, batch_dir):
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        session_windows,
    )

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    out = run_to_memory(session_windows(stream, "30 minutes", "10 hours"), "t_sess")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["session_start"] <= r["session_end"] for r in rows)


def test_complete_output_mode_final_state(spark, batch_dir):
    """Complete mode re-emits the full aggregate each batch; after
    availableNow finishes, the memory table holds the final totals for
    EVERY window (no watermark-closed subset, unlike append)."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import read_events_stream

    from pyspark.sql import functions as F2

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    agg = stream.groupBy("event_type").agg(
        F2.count(F2.lit(1)).alias("n"), F2.sum("value").alias("s")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_type"]: (r["n"], round(r["s"], 6))
        for r in spark.table("t_complete").collect()
    }
    ev = load_table(spark, "events", SF_SMOKE)
    want = {
        r["event_type"]: (r["n"], round(r["s"], 6))
        for r in ev.groupBy("event_type")
        .agg(F2.count(F2.lit(1)).alias("n"), F2.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, batch_dir):
    """Purchase↔view attribution join: streaming result must equal the
    batch join on the same data (watermark generous enough to keep all)."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_view_purchase_join,
    )

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    got = run_to_memory(
        stream_stream_view_purchase_join(stream, "1 hour", "100 hours"), "t_ssj"
    )
    got_set = {(r["purchase_id"], r["view_id"]) for r in got.collect()}
    # batch replay: withWatermark is a no-op in batch mode, so the same
    # function is its own oracle on the batch frame
    ev = load_table(spark, "events", SF_SMOKE)
    want_set = {
        (r["purchase_id"], r["view_id"])
        for r in stream_stream_view_purchase_join(ev, "1 hour", "100 hours").collect()
    }
    assert got_set == want_set and len(want_set) > 0


def test_stream_stream_left_outer_join_semantics(spark, batch_dir):
    """Outer attribution join under micro-batch replay: (a) the inner part
    equals the batch join exactly; (b) null-view rows appear (the outer
    behavior a bounded inner join never shows); (c) every null-view row is
    a purchase with genuinely no qualifying view in batch. Rows whose
    window the final watermark hasn't closed stay buffered, so the null
    set is a subset of the batch anti-join — never more."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        stream_stream_left_outer_attribution,
        stream_stream_view_purchase_join,
    )

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    got = run_to_memory(
        stream_stream_left_outer_attribution(stream, "1 hour", "1 minute"),
        "t_ssj_outer",
    ).collect()
    got_inner = {(r["purchase_id"], r["view_id"]) for r in got if r["view_id"] is not None}
    got_null = {r["purchase_id"] for r in got if r["view_id"] is None}

    ev = load_table(spark, "events", SF_SMOKE)
    want_inner = {
        (r["purchase_id"], r["view_id"])
        for r in stream_stream_view_purchase_join(ev, "1 hour", "1 minute").collect()
    }
    matched_purchases = {p for p, _ in want_inner}
    all_purchases = {
        r["event_id"] for r in ev.where("event_type = 'purchase'").collect()
    }
    batch_unmatched = all_purchases - matched_purchases

    assert got_inner == want_inner and len(want_inner) > 0
    assert got_null, "outer join emitted no null-view rows"
    assert got_null <= batch_unmatched
    assert got_null.isdisjoint(matched_purchases)


def test_event_time_timeout_closes_sessions_exactly_once(spark, tmp_path):
    """EventTimeTimeout finalization: a user's session is emitted exactly
    once — when a batch advances the watermark past (last activity + gap)
    with no new input for that key — and keys still inside their gap stay
    buffered. Deterministic three-batch scenario via per-file mtimes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from slr207_mapreduce_spark.streaming.ops import read_events_stream, run_to_memory
    from slr207_mapreduce_spark.streaming.stateful import closed_user_sessions

    base = 1_700_000_000_000  # ms epoch
    MIN = 60_000

    def write_batch(i, rows, mtime):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] * 1000 for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    # batch 1: user 1 active t0..t0+5m (3 events), user 2 one event at t0
    write_batch(
        1,
        [(1, base, 1), (2, base + 2 * MIN, 1), (3, base + 5 * MIN, 1), (4, base, 2)],
        1_000_000_000,
    )
    # batch 2: user 3 at t0+2h -> watermark jumps past both sessions' gaps
    write_batch(2, [(5, base + 120 * MIN, 3)], 1_000_000_100)
    # batch 3: user 9 at t0+4h -> closes user 3; user 9 itself stays open
    write_batch(3, [(6, base + 240 * MIN, 9)], 1_000_000_200)

    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    got = run_to_memory(closed_user_sessions(stream, watermark="1 minute"), "t_sess_to")
    rows = {r["user_id"]: r for r in got.collect()}

    assert set(rows) == {1, 2, 3}, f"emitted keys {set(rows)}"
    assert rows[1]["session_start_ms"] == base
    assert rows[1]["session_end_ms"] == base + 5 * MIN
    assert rows[1]["n_events"] == 3
    assert rows[2]["session_start_ms"] == rows[2]["session_end_ms"] == base
    assert rows[2]["n_events"] == 1
    assert rows[3]["n_events"] == 1
    assert got.count() == 3  # exactly once each; user 9 never closed


def test_sessionization_splits_gaps_within_and_across_batches(spark, tmp_path):
    """Regression for the r5 ADVICE medium bug: one user's events separated
    by > 30 min — inside a single micro-batch AND across batches arriving
    before the timeout fires — must produce SEPARATE sessions, exactly as
    the batch events_sessionization gap contract says, not one folded
    (min,max) range."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from slr207_mapreduce_spark.streaming.ops import read_events_stream, run_to_memory
    from slr207_mapreduce_spark.streaming.stateful import closed_user_sessions

    base = 1_700_000_000_000  # ms epoch
    MIN = 60_000

    def write_batch(i, rows, mtime):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] * 1000 for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    # batch 1: user 1 has TWO sessions in ONE batch — t0..t0+5m and
    # t0+120m..t0+121m (115-min gap in the middle)
    write_batch(
        1,
        [
            (1, base, 1),
            (2, base + 5 * MIN, 1),
            (3, base + 120 * MIN, 1),
            (4, base + 121 * MIN, 1),
        ],
        1_000_000_000,
    )
    # batch 2: user 1 again at t0+180m (59-min gap from the open session —
    # a THIRD session, arriving while state still holds the second one);
    # user 99 at t0+360m pushes the watermark far past every gap
    write_batch(2, [(5, base + 180 * MIN, 1), (6, base + 360 * MIN, 99)], 1_000_000_100)

    stream = read_events_stream(spark, str(tmp_path), max_files_per_trigger=1)
    got = run_to_memory(closed_user_sessions(stream, watermark="1 minute"), "t_sess_gap")
    sessions = sorted(
        (r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in got.collect()
        if r["user_id"] == 1
    )
    assert sessions == [
        (base, base + 5 * MIN, 2),
        (base + 120 * MIN, base + 121 * MIN, 2),
        (base + 180 * MIN, base + 180 * MIN, 1),
    ], f"gap-split sessions wrong: {sessions}"
    # user 99's session never closed (no later watermark) — not emitted
    assert all(r["user_id"] == 1 for r in got.collect())


def test_stateful_running_totals(spark, tmp_path):
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import read_events_stream
    from slr207_mapreduce_spark.streaming.stateful import running_user_totals

    ev = load_table(spark, "events", SF_SMOKE).orderBy("ts").limit(200).cache()
    d = str(tmp_path / "state_src")
    ev.coalesce(1).write.parquet(d)
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    q = (
        running_user_totals(stream, "10 hours")
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.table("t_state").collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stateful_event_type_counts_e2e(spark, tmp_path):
    """Per-(user, event_type) map state end-to-end (no skip): final counts
    across micro-batches must equal the batch groupBy. Runs under the
    RocksDB state-store provider; the default provider is covered by the
    streaming plan sweep. Update-mode memory sink keeps every emission;
    the LAST row per key is the final state."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import read_events_stream
    from slr207_mapreduce_spark.streaming.stateful import user_event_type_counts

    ev = load_table(spark, "events", SF_SMOKE).orderBy("ts").limit(200).cache()
    d = str(tmp_path / "etc_src")
    ev.coalesce(1).write.parquet(d)
    stream = read_events_stream(spark, d, max_files_per_trigger=1)
    prior_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            user_event_type_counts(stream, "10 hours")
            .writeStream.format("memory")
            .queryName("t_etc")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prior_provider
            )
    got = {}
    for r in spark.table("t_etc").collect():  # later emissions overwrite
        got[(r["user_id"], r["event_type"])] = r["n_events"]
    want = {
        (r["user_id"], r["event_type"]): r["n"]
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_session_window_stream_matches_batch_query(spark, batch_dir):
    """The streaming sessionizer's FINAL state (complete mode over a
    micro-batch replay) must equal the declared batch query
    events_session_window_batch on (user, start, end, count) — the
    batch/stream symmetry the native session_window operator promises."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.streaming.ops import read_events_stream

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_sess_final")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.table("t_sess_final").collect()
    }
    batch = all_queries()["events_session_window_batch"].build(spark, SF_SMOKE)
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in batch.collect()
    }
    assert got == want


def test_event_type_counts_update_logic_without_state_server():
    """Drives _update_event_type_counts with a duck-typed GroupState,
    pinning the accumulation/emission logic with zero Spark machinery —
    the state-store path is covered by the e2e test above."""
    import pandas as pd

    from slr207_mapreduce_spark.streaming.stateful import _update_event_type_counts

    class FakeState:
        def __init__(self):
            self.value = None

        @property
        def exists(self):
            return self.value is not None

        @property
        def get(self):
            return self.value

        def update(self, v):
            self.value = v

    state = FakeState()

    def update(*chunks):
        pdfs = [pd.DataFrame({"event_type": c}) for c in chunks]
        (out,) = _update_event_type_counts((7,), pdfs, state)
        return out

    out1 = update(["click", "view", "click"])
    got1 = dict(zip(out1["event_type"], out1["n_events"]))
    assert got1 == {"click": 2, "view": 1}
    assert list(out1["user_id"].unique()) == [7]

    # state persists across invocations (micro-batches) and accumulates;
    # emission is the FULL map, sorted by event_type
    out2 = update(["view", "view", "purchase"])
    got2 = dict(zip(out2["event_type"], out2["n_events"]))
    assert got2 == {"click": 2, "view": 3, "purchase": 1}
    assert list(out2["event_type"]) == sorted(got2)

    # multiple pandas chunks within one invocation fold into one update
    out3 = update(["click"], ["click"])
    assert dict(zip(out3["event_type"], out3["n_events"]))["click"] == 4


def test_session_close_watermark_boundary_is_strict():
    """r06 ADVICE: a sub-session with last+GAP == wm must stay OPEN — an
    on-time event may still arrive with ts == wm, and a gap of exactly
    SESSION_GAP_MS merges under the batch rule (gap <= GAP). The old
    `<=` close condition emitted a spurious extra session here. Drives
    _finalize_sessions directly with a duck-typed GroupState."""
    import pandas as pd

    from slr207_mapreduce_spark.streaming.stateful import (
        SESSION_GAP_MS,
        _finalize_sessions,
    )

    class FakeState:
        def __init__(self):
            self.value = None
            self.hasTimedOut = False
            self.wm = 0
            self.timeout = None

        @property
        def exists(self):
            return self.value is not None

        @property
        def get(self):
            return self.value

        def getCurrentWatermarkMs(self):
            return self.wm

        def update(self, v):
            self.value = v

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def remove(self):
            self.value = None

    def batch(state, ts_list, wm, timed_out=False):
        state.wm = wm
        state.hasTimedOut = timed_out
        pdfs = (
            [pd.DataFrame({"ts": pd.Series([t * 1_000_000 for t in ts_list])})]
            if ts_list
            else []
        )
        (out,) = _finalize_sessions((1,), pdfs, state)
        return list(
            zip(out["session_start_ms"], out["session_end_ms"], out["n_events"])
        )

    t0 = 1_700_000_000_000
    st = FakeState()
    assert batch(st, [t0], wm=0) == []  # opens, nothing closes
    # timeout tick with wm EXACTLY last+GAP: boundary-extendable -> stays open
    assert batch(st, [], wm=t0 + SESSION_GAP_MS, timed_out=True) == []
    assert st.exists, "boundary session must not be evicted"
    # an on-time event at ts == wm with gap exactly GAP merges into it
    assert batch(st, [t0 + SESSION_GAP_MS], wm=t0 + SESSION_GAP_MS) == []
    # watermark finally passes -> ONE merged session, not two
    assert batch(st, [], wm=t0 + 3 * SESSION_GAP_MS, timed_out=True) == [
        (t0, t0 + SESSION_GAP_MS, 2)
    ]
    assert not st.exists


def test_streaming_json_quarantine_matches_batch(spark, tmp_path):
    """The JSON corrupt-record quarantine runs unchanged as a streaming
    projection: a readStream over JSON-lines text files (every 13th record
    truncated, as in pipeline_json_ingest_quarantine) must produce exactly
    the batch result — stateless ops are batch/stream portable by
    construction."""
    import json

    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.streaming.ops import run_to_memory

    d = str(tmp_path / "jsonl")
    import os

    os.makedirs(d)
    # two micro-batch files of deterministic JSON lines
    for fidx in range(2):
        with open(os.path.join(d, f"part{fidx}.txt"), "w") as f:
            for i in range(fidx * 50, fidx * 50 + 50):
                js = json.dumps({"id": i, "lang": "en", "n": i * 3})
                f.write((js[:10] if i % 13 == 0 else js) + "\n")

    def quarantine(df):
        parsed = F.from_json(F.col("value"), "id BIGINT, lang STRING, n BIGINT")
        return df.select(parsed.alias("p")).select(
            F.col("p.id").alias("id_parsed"),
            F.col("p.n").alias("n_parsed"),
            F.col("p.id").isNull().alias("is_quarantined"),
        )

    stream = spark.readStream.option("maxFilesPerTrigger", "1").text(d)
    got = sorted(
        ((r["id_parsed"], r["n_parsed"], r["is_quarantined"])
         for r in run_to_memory(quarantine(stream), "t_jsonq").collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1] or 0),
    )
    batch = sorted(
        ((r["id_parsed"], r["n_parsed"], r["is_quarantined"])
         for r in quarantine(spark.read.text(d)).collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1] or 0),
    )
    assert got == batch
    assert sum(1 for _, _, q in got if q) == len([i for i in range(100) if i % 13 == 0])


def test_streaming_lsh_band_keys_match_batch_path(spark):
    """The row-local streaming MinHash/band formulation must be
    bit-identical to the batch doc_shingles → minhash_signatures →
    lsh_bands pipeline on the same documents — same md5 lanes, same hex
    min, same band keys."""
    from slr207_mapreduce_spark.operators.dedup import (
        doc_shingles,
        lsh_bands,
        minhash_signatures,
    )
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import streaming_lsh_band_keys

    d = load_table(spark, "documents", SF_SMOKE).limit(300)
    got = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in streaming_lsh_band_keys(d).collect()
    }
    want = {
        (r["doc_id"], r["band"], r["bkey"])
        for r in lsh_bands(
            minhash_signatures(doc_shingles(d, "doc_id", 3, distinct=False), 6), 6, 2
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_neardup_gate_matches_batch_join(spark, tmp_path):
    """E2E ingestion gate: documents replayed as a 2-file stream must flag
    exactly the (stream doc, corpus doc) pairs the batch LSH band join
    finds — including the near-duplicate planted in the stream."""
    import os as o
    import shutil as sh

    from pyspark.sql import functions as F2

    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        run_to_memory,
        streaming_neardup_candidates,
    )

    docs = load_table(spark, "documents", SF_SMOKE)
    corpus = docs.where("doc_id % 2 = 0").cache()
    # stream side: odd docs + one PLANTED near-dup of corpus doc 0
    planted = corpus.where("doc_id = 0").select(
        F2.lit(999_999).cast("long").alias("doc_id"),
        F2.concat(F2.col("text"), F2.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    stream_docs = docs.where("doc_id % 2 = 1").limit(200).unionByName(planted).cache()

    d = str(tmp_path / "doc_stream")
    o.makedirs(d)
    stream_docs.where("doc_id < 100").coalesce(1).write.parquet(d + "/b1")
    stream_docs.where("doc_id >= 100").coalesce(1).write.parquet(d + "/b2")
    flat = str(tmp_path / "flat")
    o.makedirs(flat)
    i = 0
    for sub in ("b1", "b2"):
        for f in sorted(o.listdir(d + "/" + sub)):
            if f.endswith(".parquet"):
                sh.copy(f"{d}/{sub}/{f}", f"{flat}/{i:02d}.parquet")
                i += 1
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(docs.schema)
        .parquet(flat)
    )
    got = {
        (r["doc_id"], r["corpus_doc_id"])
        for r in run_to_memory(
            streaming_neardup_candidates(stream, corpus), "t_neardup"
        ).collect()
    }
    want = {
        (r["doc_id"], r["corpus_doc_id"])
        for r in streaming_neardup_candidates(stream_docs, corpus).collect()
    }
    assert got == want and len(want) > 0
    assert (999_999, 0) in got, "planted near-duplicate not flagged"


def test_streaming_countmin_counters_match_batch_sketch(spark, batch_dir):
    """The streaming count-min is a plain watermarked windowed agg — its
    emitted per-day counters must equal the batch sketch built by the
    registered analogue's transform over the same rows (sketch update ==
    incremental aggregation; sketch merge == partial agg). Only windows
    closed by the final watermark are emitted; each must match exactly."""
    from slr207_mapreduce_spark.functions.portable import countmin_hash_rows
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        read_events_stream,
        run_to_memory,
        streaming_countmin_counters,
    )

    stream = read_events_stream(spark, batch_dir, max_files_per_trigger=1)
    out = run_to_memory(
        streaming_countmin_counters(stream, "1 day", "2 hours"),
        "t_countmin",
        "append",
    )
    got = {
        (r["window_start"], r["h"], r["b"]): r["c"] for r in out.collect()
    }
    assert got, "no closed windows emitted"

    ev = load_table(spark, "events", SF_SMOKE)
    # geometry from the SHARED constants — the parity pin must track the
    # batch/streaming geometry, not restate it (r11 ADVICE item 2)
    from slr207_mapreduce_spark.functions.portable import (
        COUNTMIN_EVENTS_DEPTH,
        COUNTMIN_EVENTS_WIDTH,
        COUNTMIN_SEED0,
    )

    hash_rows = countmin_hash_rows(
        F.col("user_id").cast("string"),
        depth=COUNTMIN_EVENTS_DEPTH,
        width=COUNTMIN_EVENTS_WIDTH,
        seed0=COUNTMIN_SEED0,
    )
    want = {
        (r["day"], r["h"], r["b"]): r["c"]
        for r in ev.select(F.date_trunc("day", "ts").alias("day"), F.explode(hash_rows).alias("hb"))
        .groupBy("day", F.col("hb.h").alias("h"), F.col("hb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    days_got = {k[0] for k in got}
    days_all = {k[0] for k in want}
    assert len(days_got) >= len(days_all) - 1  # final open window may be held back
    for k, v in got.items():
        assert want[k] == v, f"counter {k}: stream={v} batch={want[k]}"


def test_streaming_semantic_gate_matches_batch_join(spark, tmp_path):
    """E2E semantic ingestion gate (r13 VERDICT item 6): embeddings
    replayed as a 2-file stream must flag exactly the (arriving vec,
    stored vec, cos) rows the batch run of the SAME operator finds —
    stateless routing + broadcast list join, so stream == batch
    bit-identically — including a planted copy of a stored vector."""
    import os as o
    import shutil as sh

    from pyspark.sql import functions as F2

    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        run_to_memory,
        streaming_semantic_gate_candidates,
    )

    emb = load_table(spark, "embeddings", SF_SMOKE)
    store = emb.where("vec_id % 10 <> 7").cache()
    # arriving side: the %10==7 slice + one PLANTED copy of stored vec 0
    planted = store.where("vec_id = 0").select(
        F2.lit(999_997).cast("long").alias("vec_id"), "embedding", "label"
    )
    arriving = emb.where("vec_id % 10 = 7").unionByName(planted).cache()

    d = str(tmp_path / "emb_stream")
    o.makedirs(d)
    arriving.where("vec_id < 250").coalesce(1).write.parquet(d + "/b1")
    arriving.where("vec_id >= 250").coalesce(1).write.parquet(d + "/b2")
    flat = str(tmp_path / "flat")
    o.makedirs(flat)
    i = 0
    for sub in ("b1", "b2"):
        for f in sorted(o.listdir(d + "/" + sub)):
            if f.endswith(".parquet"):
                sh.copy(f"{d}/{sub}/{f}", f"{flat}/{i:02d}.parquet")
                i += 1
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(emb.schema)
        .parquet(flat)
    )
    got = {
        (r["vec_id"], r["store_id"], r["cos_sim"])
        for r in run_to_memory(
            streaming_semantic_gate_candidates(stream, store), "t_semgate"
        ).collect()
    }
    want = {
        (r["vec_id"], r["store_id"], r["cos_sim"])
        for r in streaming_semantic_gate_candidates(arriving, store).collect()
    }
    assert got == want and len(want) > 0
    planted_hits = {(a, b) for a, b, _ in got if a == 999_997}
    assert (999_997, 0) in planted_hits, "planted copy not flagged"


def test_semantic_gate_distributed_bit_identical(spark):
    """The beyond-broadcast gate (r14 VERDICT item 1) must emit the
    broadcast gate's pairs BIT-identically — same probe sets (same
    stable argsort over the same centroid ranking) and same cosines
    (same sequential-in-j fold) — and the broadcast gate must
    auto-branch to it for a batch input past its bound, while a
    STREAMING input past the bound still raises toward foreachBatch."""
    import pytest

    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        semantic_gate_candidates_distributed,
        streaming_semantic_gate_candidates,
    )

    emb = load_table(spark, "embeddings", SF_SMOKE)
    store = emb.where("vec_id % 10 <> 7")
    arriving = emb.where("vec_id % 10 = 7")

    def key(rows):
        return sorted((r["vec_id"], r["store_id"], r["cos_sim"]) for r in rows)

    want = key(streaming_semantic_gate_candidates(arriving, store).collect())
    got = key(semantic_gate_candidates_distributed(arriving, store).collect())
    assert want == got and len(want) > 0  # float-exact: same bits

    # batch input past the broadcast bound: the SAME call now returns the
    # distributed plan instead of raising (the r14 `weak` removal)
    branched = key(
        streaming_semantic_gate_candidates(
            arriving, store, max_store_rows=10
        ).collect()
    )
    assert branched == want

    # a streaming input past the bound cannot run a per-cell
    # applyInPandas — the reject survives, pointing at the tested
    # foreachBatch surface
    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS vec_id", "array(CAST(value AS DOUBLE)) AS embedding"
    )
    with pytest.raises(ValueError, match="foreachBatch"):
        streaming_semantic_gate_candidates(stream, store, max_store_rows=10)


def test_semantic_gate_foreachbatch_big_store(spark, tmp_path):
    """The beyond-broadcast STREAMING deployment shape as a tested
    surface (r14 VERDICT item 1 — previously prose): quantizer trained
    ONCE on the store, inverted lists materialized partitionBy(cidx)
    (the pruning layout pinned in test_layout_runtime), and each
    micro-batch gated under foreachBatch with
    semantic_gate_candidates_distributed against the PARTITIONED lists —
    results equal the batch gate bit-identically, planted copy flagged."""
    import os as o

    from pyspark.sql import functions as F2

    from slr207_mapreduce_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_train_centroids,
    )
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        semantic_gate_candidates_distributed,
        streaming_semantic_gate_candidates,
    )

    emb = load_table(spark, "embeddings", SF_SMOKE)
    store = emb.where("vec_id % 10 <> 7").cache()
    n_store = store.count()
    planted = store.where("vec_id = 0").select(
        F2.lit(999_997).cast("long").alias("vec_id"), "embedding", "label"
    )
    arriving = emb.where("vec_id % 10 = 7").unionByName(planted).cache()

    # build-once store state: trained quantizer + partitioned lists
    trained = ivf_train_centroids(store, n_corpus=n_store)
    lists_path = str(tmp_path / "gate_lists")
    ivf_assign_cells(
        store, trained[0], trained[1], out_id="store_id", carry_vec=True
    ).write.partitionBy("cidx").parquet(lists_path)
    lists = spark.read.parquet(lists_path)

    d = str(tmp_path / "emb_stream")
    o.makedirs(d)
    arriving.where("vec_id < 250").coalesce(1).write.parquet(d + "/00")
    arriving.where("vec_id >= 250").coalesce(1).write.parquet(d + "/01")
    flat = str(tmp_path / "flat")
    o.makedirs(flat)
    i = 0
    for sub in ("00", "01"):
        for f in sorted(o.listdir(f"{d}/{sub}")):
            if f.endswith(".parquet"):
                o.link(f"{d}/{sub}/{f}", f"{flat}/{i:02d}.parquet")
                i += 1
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(emb.schema)
        .parquet(flat)
    )

    got: list[tuple] = []
    batches_seen: list[int] = []

    def gate_batch(batch_df, batch_id):
        batches_seen.append(batch_id)
        rows = semantic_gate_candidates_distributed(
            batch_df,
            store,
            trained=trained,
            store_lists=lists,
            n_store=n_store,
        ).collect()
        got.extend((r["vec_id"], r["store_id"], r["cos_sim"]) for r in rows)

    q = (
        stream.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = sorted(
        (r["vec_id"], r["store_id"], r["cos_sim"])
        for r in streaming_semantic_gate_candidates(arriving, store).collect()
    )
    assert len(batches_seen) >= 2  # genuinely incremental, not one batch
    assert sorted(got) == want and len(want) > 0
    assert any(a == 999_997 and b == 0 for a, b, _ in got)
