"""Streaming-suite physical-plan sweep (r06 VERDICT item 6).

The batch sweep (test_plan_sweep.py) audits every registered query's plan;
this file does the same for the Structured Streaming surface, which only
materializes its executed plan per micro-batch. Each streaming operator is
run to completion (availableNow → noop sink) and its runtime evidence is
pinned:

- **state-store operator count and names** from ``lastProgress.stateOperators``
  — the engine's own accounting of which stateful operators ran and how
  many (a second, unexpected state operator = an accidental extra stateful
  shuffle at scale);
- **watermark placement** — ``EventTimeWatermark`` must appear in the
  executed plan of every stateful query (state that can never be pruned is
  an unbounded-memory bug at 100 TB), and must NOT appear where the
  operator is deliberately stateless;
- **keyed exchange** — stateful operators must partition by key
  (``Exchange hashpartitioning``) so state lives where the data lands;
- **the streaming near-dup gate's core scale claim** — zero state
  operators and a ``BroadcastHashJoin`` (the corpus band table broadcasts;
  the arriving stream is gated without building join state);
- the batch sweep's global anti-patterns (``CartesianProduct``,
  row-at-a-time ``BatchEvalPython``) stay absent from executed streaming
  plans too.
"""

from __future__ import annotations

import json
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def ev_dir(spark):
    from slr207_mapreduce_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="sweep_ev_")
    load_table(spark, "events", SF_SMOKE).orderBy("ts").limit(300).coalesce(
        1
    ).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def doc_dir(spark):
    from slr207_mapreduce_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="sweep_doc_")
    load_table(spark, "documents", SF_SMOKE).limit(100).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _events(spark, d):
    from slr207_mapreduce_spark.streaming.ops import read_events_stream

    return read_events_stream(spark, d, max_files_per_trigger=1)


def _docs(spark, d):
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )


def _run_and_audit(df, mode: str) -> dict:
    """Run a streaming frame to completion and return the pinned evidence:
    final state-operator names, executed-plan text, batch count."""
    q = (
        df.writeStream.format("noop")
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state_ops: list[str] = []
    for p in q.recentProgress:
        prog = json.loads(p.json)
        if prog.get("stateOperators"):
            state_ops = [o["operatorName"] for o in prog["stateOperators"]]
    plan = q._jsq.explainInternal(False)
    n_batches = len(q.recentProgress)
    q.stop()
    return {"state_ops": state_ops, "plan": plan, "n_batches": n_batches}


# name -> (builder(spark, ev_dir, doc_dir) -> (df, mode),
#          expected state operator names,
#          EventTimeWatermark expected in the executed plan)
def _cases():
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming import ops as S
    from slr207_mapreduce_spark.streaming import stateful as ST

    return {
        "tumbling_window_counts": (
            lambda sp, ev, dd: (S.tumbling_window_counts(_events(sp, ev), "1 hour", "2 hours"), "append"),
            ["stateStoreSave"],
            True,
        ),
        "sliding_window_sums": (
            lambda sp, ev, dd: (S.sliding_window_sums(_events(sp, ev), "2 hours", "1 hour", "2 hours"), "append"),
            ["stateStoreSave"],
            True,
        ),
        "session_windows": (
            lambda sp, ev, dd: (S.session_windows(_events(sp, ev), "30 minutes", "2 hours"), "append"),
            ["sessionWindowStateStoreSaveExec"],
            True,
        ),
        "streaming_dedup": (
            lambda sp, ev, dd: (S.streaming_dedup(_events(sp, ev), ["event_id"], "2 hours"), "append"),
            ["dedupeWithinWatermark"],
            True,
        ),
        "stream_stream_inner": (
            lambda sp, ev, dd: (S.stream_stream_view_purchase_join(_events(sp, ev)), "append"),
            ["symmetricHashJoin"],
            True,
        ),
        "stream_stream_left_outer": (
            lambda sp, ev, dd: (S.stream_stream_left_outer_attribution(_events(sp, ev)), "append"),
            ["symmetricHashJoin"],
            True,
        ),
        "running_user_totals": (
            lambda sp, ev, dd: (ST.running_user_totals(_events(sp, ev), "10 hours"), "update"),
            ["applyInPandasWithState"],
            True,
        ),
        "user_event_type_counts": (
            lambda sp, ev, dd: (ST.user_event_type_counts(_events(sp, ev), "10 hours"), "update"),
            ["applyInPandasWithState"],
            True,
        ),
        "closed_user_sessions": (
            lambda sp, ev, dd: (ST.closed_user_sessions(_events(sp, ev), "10 minutes"), "append"),
            ["applyInPandasWithState"],
            True,
        ),
        "stream_static_enrich": (
            lambda sp, ev, dd: (
                S.stream_static_enrich(
                    _events(sp, ev),
                    load_table(sp, "customer", SF_SMOKE).select(
                        F.col("c_custkey").alias("user_id"), "c_name"
                    ),
                    "user_id",
                ),
                "append",
            ),
            [],  # stateless: dim re-resolved per batch, no streaming state
            False,
        ),
        "neardup_gate": (
            lambda sp, ev, dd: (
                S.streaming_neardup_candidates(
                    _docs(sp, dd), load_table(sp, "documents", SF_SMOKE).limit(50)
                ),
                "append",
            ),
            [],  # THE scale claim: the gate builds no join state
            False,
        ),
    }


@pytest.mark.parametrize("name", sorted(_cases()))
def test_streaming_plan_sweep(spark, ev_dir, doc_dir, name):
    build, want_ops, want_wm = _cases()[name]
    df, mode = build(spark, ev_dir, doc_dir)
    a = _run_and_audit(df, mode)
    assert a["n_batches"] >= 1
    assert a["state_ops"] == want_ops, (name, a["state_ops"])
    assert ("EventTimeWatermark" in a["plan"]) == want_wm, name
    # stateful => state must be co-located with a keyed exchange
    if want_ops:
        assert "Exchange hashpartitioning" in a["plan"], name
    # global anti-patterns apply to streaming plans too
    assert "CartesianProduct" not in a["plan"], name
    assert "BatchEvalPython" not in a["plan"], name
    if name == "neardup_gate":
        assert "BroadcastHashJoin" in a["plan"], "corpus band table must broadcast"
    if name == "stream_static_enrich":
        assert "BroadcastHashJoin" in a["plan"], "static dim must broadcast"
    if name == "user_event_type_counts":
        assert "FlatMapGroupsInPandasWithState" in a["plan"], name
