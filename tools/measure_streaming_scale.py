"""Streaming decade-tier measurement (SCALE.md round-9 table).

VERDICT r08 item 4: the streaming suite had plan-sweep and micro-batch
tests but no large-input row. This harness replays the events tiers as
file-source streams — the events table split into one parquet file per
DAY, maxFilesPerTrigger=1, Trigger.AvailableNow — so each micro-batch is
one day of time-ordered data and the watermark advances between batches
exactly as it would on a live feed. Two stateful paths are driven to a
checkpointed noop sink:

  * sessionization — streaming/ops.py::session_windows (session_window
    agg, 30 min gap, 2 h watermark, append mode): the same gap semantics
    as the batch events_sessionization query.
  * dedup_gate    — streaming/ops.py::streaming_dedup
    (dropDuplicatesWithinWatermark on event_id, 2 h watermark).

For every micro-batch the StreamingQueryProgress is recorded:
numInputRows, triggerExecution wall, and the state store's numRowsTotal
/ memoryUsedBytes. The claims under test:

  * BOUNDED STATE: with time-ordered input the watermark prunes state
    each batch, so numRowsTotal must plateau near one horizon's worth of
    keys — NOT grow with total rows seen. Asserted as max-state <= 3x
    median-state over the steady-state batches (first two batches are
    warm-up: the watermark has not advanced yet).
  * LINEAR BATCH TIME: per-batch wall must not trend upward as history
    accumulates. Asserted as MEDIAN(last third) <= 2x MEDIAN(middle
    third) — median, not mean: a single state-store snapshot / GC pause
    in one batch (observed: one ~40 s outlier in an otherwise-flat ~5 s
    tail at sf10) is a maintenance event, not a trend, and the mean is
    destroyed by it while every surrounding batch is flat. The full
    per-batch wall list is kept in the artifact so the distribution is
    re-checkable.

Tiers: sf1 (1M events / 15k users) and events_sf10 (10M events / 150k
users, tools/make_sf.py::ensure_events_sf10) — state plateau and batch
wall should scale with the per-day row count (~10x), not with history.

Usage: python tools/measure_streaming_scale.py
Prints one JSON object; exits non-zero if a boundedness/linearity
assertion fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _day_chunks(src: str, out_dir: str, max_days: int | None = None) -> int:
    """Split an events parquet into one file per calendar day, with mtimes
    pinned in strictly increasing day order (the file source processes
    oldest-mtime first; pinning removes the tie-break ambiguity of
    same-second writes, which would let a day arrive behind the advanced
    watermark and be silently dropped as late). Returns the chunk count.
    ``max_days`` truncates to the first N days (the pytest smoke mode).

    An interrupted build must not be reused: completeness is recorded in a
    `_CHUNKS_OK` sentinel (written last, holding the expected count) and a
    reuse requires the sentinel AND a matching day-file count — otherwise
    the directory is rebuilt from scratch."""
    import duckdb
    import shutil

    sentinel = os.path.join(out_dir, "_CHUNKS_OK")
    if os.path.isdir(out_dir) and os.path.exists(sentinel):
        # sentinel records count AND the max_days the build was truncated
        # to — reuse requires BOTH to match the current request, or a
        # full run after a truncated build would silently measure the
        # truncated stream (r10 review)
        parts = open(sentinel).read().split()
        expected = int(parts[0])
        built_max = parts[1] if len(parts) > 1 else "None"
        have = [n for n in os.listdir(out_dir) if n.startswith("day_")]
        if len(have) == expected and built_max == str(max_days):
            return expected
    if os.path.isdir(out_dir):  # stale or partial — rebuild
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(16, os.cpu_count() or 8)}")
    days = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT CAST(ts AS DATE) FROM '{src}' ORDER BY 1"
        ).fetchall()
    ]
    if max_days is not None:
        days = days[:max_days]
    for i, day in enumerate(days):
        path = f"{out_dir}/day_{i:03d}.parquet"
        con.execute(
            f"COPY (SELECT * FROM '{src}' WHERE CAST(ts AS DATE) = DATE '{day}'"
            f" ORDER BY ts) TO '{path}' (FORMAT PARQUET)"
        )
        t = 1_000_000_000 + 60 * i  # deterministic, strictly increasing
        os.utime(path, (t, t))
    con.close()
    with open(sentinel, "w") as f:
        f.write(f"{len(days)} {max_days}")
    return len(days)


def _drive(spark, stream_dir: str, make_query, name: str) -> dict:
    """Run one stateful path over the chunked stream with a fresh
    checkpoint; harvest per-batch progress."""
    from slr207_mapreduce_spark.streaming.ops import read_events_stream

    ckpt = tempfile.mkdtemp(prefix=f"stream_scale_{name}_")
    try:
        stream = read_events_stream(spark, stream_dir, max_files_per_trigger=1)
        q = (
            make_query(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        batches = []
        for p in q.recentProgress:
            st = p["stateOperators"][0] if p["stateOperators"] else {}
            batches.append(
                {
                    "batch": p["batchId"],
                    "rows_in": p["numInputRows"],
                    "wall_ms": p["durationMs"].get("triggerExecution"),
                    "state_rows": st.get("numRowsTotal"),
                    "state_bytes": st.get("memoryUsedBytes"),
                }
            )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    data = [b for b in batches if b["rows_in"]]  # drop the empty final tick
    res = {"n_batches": len(data), "batches": data}
    walls = [b["wall_ms"] for b in data if b["wall_ms"] is not None]
    states = [b["state_rows"] for b in data if b["state_rows"] is not None]
    if not states or not walls:
        # degenerate progress (provider reported no state operators or no
        # trigger walls) — record a self-describing failure instead of
        # crashing after minutes of streaming
        res["error"] = "no state/wall metrics in progress records"
        res["state_bounded"] = False
        res["batch_time_flat"] = False
        return res
    # steady state: skip the first two batches (watermark not advanced yet)
    steady = states[2:] or states
    med = sorted(steady)[len(steady) // 2]
    res["state_rows_max"] = max(steady)
    res["state_rows_median"] = med
    res["state_bounded"] = max(steady) <= 3 * max(med, 1)
    third = max(1, len(walls) // 3)

    def median(xs: list) -> float:
        s = sorted(xs)
        return float(s[len(s) // 2])

    # Median, not mean: one state-store snapshot / GC pause in a single
    # batch is a maintenance event, not a trend — the full `walls` list
    # stays in the artifact so a reviewer can see any outlier directly.
    mid = median(walls[third : 2 * third] or walls)
    last = median(walls[-third:])
    res["wall_ms_mid_third_median"] = round(mid, 1)
    res["wall_ms_last_third_median"] = round(last, 1)
    res["wall_ms_all"] = walls
    res["batch_time_flat"] = last <= 2 * mid
    return res


def main() -> int:
    import argparse

    from pyspark.sql import functions as F  # noqa: F401

    from slr207_mapreduce_spark.session import get_session
    from slr207_mapreduce_spark.streaming.ops import (
        session_windows,
        streaming_dedup,
    )
    from tools.make_sf import ensure_events_sf10, ensure_sf1

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--provider",
        choices=("default", "rocksdb"),
        default="default",
        help="state store provider: 'default' (HDFS-backed, state on the "
        "JVM heap) or 'rocksdb' (state off-heap in RocksDB, the provider a "
        "deployment with large state runs)",
    )
    args = ap.parse_args()

    out: dict = {"loadavg_before": [round(x, 2) for x in os.getloadavg()]}
    spark = get_session(app_name="measure-streaming-scale", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress is a ring buffer (default 100 entries): a tier with
    # more day files than that would silently truncate the per-batch
    # record and shift the warm-up skip mid-stream. Raise the cap AND
    # cross-check n_batches against the day-file count below.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    if args.provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    try:
        prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    except Exception:
        prov = "HDFSBackedStateStoreProvider (default)"
    out["state_store_provider"] = (prov or "").rsplit(".", 1)[-1] or prov

    tiers = {
        "sf1": os.path.join(ensure_sf1(REPO), "events.parquet"),
        "events_sf10": os.path.join(ensure_events_sf10(REPO), "events.parquet"),
    }
    failures = []
    for tag, src in tiers.items():
        chunks = os.path.join(REPO, ".sfgen", f"stream_chunks_{tag}")
        n = _day_chunks(src, chunks)
        leg: dict = {"n_day_files": n}
        leg["sessionization"] = _drive(
            spark,
            chunks,
            lambda s: session_windows(s, gap="30 minutes", watermark="2 hours"),
            f"sess_{tag}",
        )
        leg["dedup_gate"] = _drive(
            spark,
            chunks,
            lambda s: streaming_dedup(s, watermark="2 hours"),
            f"dedup_{tag}",
        )
        for op in ("sessionization", "dedup_gate"):
            if leg[op]["n_batches"] != n:
                # NOTE this check detects progress-ring truncation or batch
                # merging ONLY: watermark-dropped late rows still count in
                # numInputRows, so a day file arriving behind the watermark
                # produces a rows_in>0 batch and n_batches stays n (r09
                # ADVICE — late-drop detection would need per-batch
                # numRowsDroppedByWatermark from stateOperators progress)
                failures.append(
                    f"{tag}.{op}: {leg[op]['n_batches']} batches recorded "
                    f"for {n} day files (progress-ring truncation or "
                    "batch merging)"
                )
            if not leg[op]["state_bounded"]:
                failures.append(f"{tag}.{op}: state not bounded")
            if not leg[op]["batch_time_flat"]:
                failures.append(f"{tag}.{op}: batch time trends upward")
            # the full per-batch list is bulky; keep first/last 3 in the
            # printed artifact (the assertions above saw all of them)
            b = leg[op]["batches"]
            leg[op]["batches"] = b[:3] + b[-3:] if len(b) > 6 else b
        out[tag] = leg
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    out["failures"] = failures
    print(json.dumps(out))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
