"""Smoke modes for the by-hand scale-measurement harnesses (r10, VERDICT
r09 item 6).

tools/measure_warehouse_scale.py and tools/measure_streaming_scale.py
assert correctness IN-RUN (exceptAll equality, per-batch progress
accounting) but previously only ran by hand during measurement sessions —
a refactor that broke the changelog replay or the equality asserts would
surface in a FUTURE round's session, not CI. These tests replay each
harness's tier leg at small SF inside the suite.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE

REPO = os.path.join(os.path.dirname(__file__), "..")

# slow: measurement-tool smokes replay real Spark legs (r15 VERDICT item 2)
pytestmark = pytest.mark.slow


def test_warehouse_tier_leg_smoke(spark):
    """The warehouse/CDC leg at sf0.01: changelog materializes, all three
    operators run, and both in-run equality asserts hold (compaction vs
    closed form, IVM merge vs direct aggregate)."""
    from tools.measure_warehouse_scale import tier_leg

    res = tier_leg(spark, SF_CORRECT, "smoke_sf001", runs=1)
    assert res["changelog_rows"] > 0
    assert res["cdc_compact_mismatch_rows"] == 0
    assert res["ivm_merge_mismatch_rows"] == 0
    for op in ("cdc_compact_s", "ivm_merge_s", "scd2_history_s"):
        assert res[op] >= 0


def test_streaming_tier_leg_smoke(spark):
    """The streaming leg over the first 8 day-chunks of the sf0.001 events
    table: one batch per day file (none merged, none truncated), state
    metrics present for both stateful paths. Bounded-state / flat-wall
    checks are decade-tier assertions — at 8 tiny batches they are noise,
    so the smoke asserts the replay accounting only."""
    from slr207_mapreduce_spark.streaming.ops import (
        session_windows,
        streaming_dedup,
    )
    from tools.measure_streaming_scale import _day_chunks, _drive

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    chunks = os.path.join(REPO, ".sfgen", "stream_chunks_smoke")
    n = _day_chunks(
        os.path.join(SF_SMOKE, "events.parquet"), chunks, max_days=8
    )
    assert n == 8
    for name, make in (
        ("sess", lambda s: session_windows(s, gap="30 minutes", watermark="2 hours")),
        ("dedup", lambda s: streaming_dedup(s, watermark="2 hours")),
    ):
        res = _drive(spark, chunks, make, f"smoke_{name}")
        assert "error" not in res, res
        assert res["n_batches"] == n, res
        assert res["state_rows_max"] > 0
        assert len(res["wall_ms_all"]) == n


def test_day_chunks_reuse_requires_matching_max_days(tmp_path):
    """A chunk dir built truncated (max_days=k) must NOT be reused by a
    full run, and vice versa — the sentinel records both the count and
    the truncation the build used (r10 review)."""
    from tools.measure_streaming_scale import _day_chunks

    src = os.path.join(SF_SMOKE, "events.parquet")
    out = str(tmp_path / "chunks")
    assert _day_chunks(src, out, max_days=3) == 3
    assert _day_chunks(src, out, max_days=3) == 3  # matching reuse
    full = _day_chunks(src, out)  # must REBUILD, not reuse the 3-day dir
    assert full == 30
    assert _day_chunks(src, out, max_days=3) == 3  # and back

