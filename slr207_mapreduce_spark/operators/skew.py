"""Skew- and layout-control operators (SURVEY.md §4.2(3): 100 TB hygiene).

The reference's partitioner is pathologically skewed — ``encode()``
lowercases and common-prefix words collide onto one worker
(/root/reference/WorkerSender.java:129-148,223-224) and nothing re-balances.
Spark's first line of defense is AQE skew-join splitting (on by default in
session.py); this module covers the cases AQE can't fix:

- ``salted_join``: explicit key salting for a join whose LEFT side has a
  hot key. The left side gets a random-ish (hash-derived, deterministic)
  salt in [0, n); the right side is replicated n× with every salt value;
  the join key becomes (key, salt) so one hot key spreads over n tasks.
- bucketed writes live in sources/sinks.py (bucketBy) — co-located joins
  with zero runtime shuffle for repeated join keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with the left side salted against skew.

    The salt is derived from a per-row hash of the whole left row's key +
    a uniform spreading column (monotonically varying xxhash64 over all
    columns), NOT random(): deterministic → retryable tasks produce the
    same result (lineage-safe, unlike rand()-based salting).
    """
    # pmod, not abs(...)%n: abs(Long.MIN_VALUE) overflows back to negative,
    # which would yield a salt matching no replicated right row (row loss)
    # whenever num_salts doesn't divide 2^63.
    salt_l = F.pmod(F.xxhash64(*left.columns), F.lit(num_salts)).cast("int")
    l = left.withColumn("__salt", salt_l)
    r = right.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(num_salts)])),
    )
    out = l.join(r, on=[key, "__salt"], how=how).drop("__salt")
    return out


def parallelize_narrow_scan(
    df: DataFrame, min_parts: int | None = None, by: str | None = None
) -> DataFrame:
    """Rebalance a few-partition scan before a CPU-heavy fan-out.

    A small parquet file arrives as ONE split, so an explode + hash pipeline
    downstream runs on one core no matter how many the cluster has (measured:
    the sf0.1 minhash signature pass is 2x slower single-split). At 100 TB the
    same table arrives as thousands of splits and this is a no-op — the
    round-robin shuffle of the raw rows only fires when the scan has fewer
    partitions than the cluster has cores, i.e. exactly when the shuffled
    volume is trivially small.

    ``by``: hash-partition on that column instead of round-robin. When the
    fan-out feeds a groupBy/distinct keyed on the same column, the downstream
    wide op then reuses this exchange (HashPartitioning(by) satisfies the
    aggregate's clustered distribution — the partial and final HashAggregate
    fuse into the fan-out stage with no second shuffle; measured 2.2× on the
    sf0.1 minhash signature pass). Slightly less balanced than round-robin
    under key skew — use only when the downstream key is high-cardinality.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    if parts >= target:
        rg = _parquet_row_group_parallelism(df)
        if rg is None or rg >= target:
            return df
    if by is not None:
        return df.repartition(target, F.col(by))
    return df.repartition(target)


def _parquet_row_group_parallelism(df: DataFrame) -> int | None:
    """Upper bound on NON-EMPTY scan tasks for a parquet-backed frame.

    ``getNumPartitions()`` counts byte-range splits, but a parquet reader
    snaps each split to row-group boundaries: a split containing no
    row-group midpoint yields zero rows instantly, and the whole scan's
    work lands on the few tasks that own actual row groups. A file written
    with oversized row groups (one 58 MB documents file with ROW_GROUP_SIZE
    262144 = 2 groups) therefore reports 32 splits while running the
    downstream shingle+md5 fan-out on 2 cores — measured as a 30-instant /
    2-straggler task profile that the partition-count guard above cannot
    see. Returns None when not determinable (non-file source, non-parquet,
    or too many files to footer-scan — at which point split parallelism is
    fine anyway)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 64:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            if not f.split("?")[0].endswith(".parquet"):
                return None
            path = f[len("file:"):] if f.startswith("file:") else f
            total += pq.ParquetFile(path).num_row_groups
        return total
    except Exception:
        return None


def capped_sessions_segmented(
    events: DataFrame, gap_s: int = 1800, cap_s: int = 7200
) -> DataFrame:
    """Heavy-hitter-safe capped sessionization (gap + hard duration cap),
    exactly equal to the per-user sequential Python scan but vectorized:
    users are laid out contiguously per partition and segmented INSIDE
    one Arrow kernel per batch, with each user's body doing numpy work
    instead of a per-event Python loop.

    Inside a user's sorted events: gap breaks come from ONE vectorized
    np.diff (every gap > gap_s starts a run, and a run always starts a
    fresh session); within a run only cap breaks remain, and the chain
    s_{k+1} = first ts > s_k + cap advances by > cap_s per step, so a run
    of duration L has <= L/cap_s + 1 sessions — the Python loop walks
    SESSIONS with searchsorted (O(sessions * log n)), not events. A bot
    user with 10^6 events costs one vectorized sort + ~10^4 searchsorted
    calls, not 10^6 interpreter iterations.

    Three earlier shapes all lost at scale: the per-event loop serializes
    O(events) Python on the bot's single task; grouping by (user,
    gap-run) explodes normal traffic into one Arrow group per run
    (measured 277 s vs 10 s at sf1's 10^6 events x 10^5 users); and even
    one applyInPandas group PER USER pays the ~0.3 ms per-invocation
    Python floor times the user count (5.3 s at sf1's 15k users — at
    real user counts that floor dwarfs the work). The mapInPandas shape
    below pays the floor once per ARROW BATCH, segments users
    vectorized, and bounds per-user Python at O(sessions log n); the
    remaining per-task floor is the bot's Arrow bytes — O(events),
    inherent to any exact per-user operator without state handoff."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "user_id BIGINT, session_id BIGINT, n_events BIGINT, "
        "s_start TIMESTAMP, s_end TIMESTAMP"
    )
    gap = np.timedelta64(gap_s, "s")
    cap = np.timedelta64(cap_s, "s")

    # MANY users per Python invocation, not one: groupBy().applyInPandas
    # makes one Arrow group (and one Python call, ~0.3 ms floor) PER USER —
    # at sf1's 15k users that floor alone was 5.3 s, and at real user
    # counts it dwarfs the actual work. Repartition+sortWithinPartitions
    # gives the same per-user contiguous, time-sorted layout with ONE
    # kernel invocation per Arrow batch; a user straddling a batch
    # boundary is carried into the next batch (mapInPandas iterates a
    # whole partition, so the carry is exact and stays in arrival order).
    def partition_sessions(batches):
        carry: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame):
            # Raw numpy views per user — no per-user pandas slice/concat
            # (at 15k users per batch the DataFrame-per-user overhead was
            # itself ~1.5 s at sf1). Rows arrive user-contiguous and
            # (ts, event_id)-sorted from sortWithinPartitions; batch
            # concat preserves that order.
            uids = pdf["user_id"].to_numpy()
            ts_all = pdf["ts"].to_numpy()
            edges = np.concatenate(
                ([0], np.flatnonzero(uids[1:] != uids[:-1]) + 1, [len(uids)])
            )
            out_u, out_sid, out_n, out_s, out_e = [], [], [], [], []
            for i in range(len(edges) - 1):
                lo_u, hi_u = int(edges[i]), int(edges[i + 1])
                ts = ts_all[lo_u:hi_u]
                n = len(ts)
                run_edges = np.concatenate(
                    ([0], np.flatnonzero(np.diff(ts) > gap) + 1, [n])
                )
                starts: list[int] = []
                for ri in range(len(run_edges) - 1):
                    lo, hi = int(run_edges[ri]), int(run_edges[ri + 1])
                    k = lo
                    while k < hi:
                        starts.append(k)
                        k = lo + int(
                            np.searchsorted(ts[lo:hi], ts[k] + cap, side="right")
                        )
                bounds = np.array(starts + [n])
                out_u.append(np.full(len(starts), uids[lo_u], dtype="int64"))
                out_sid.append(np.arange(1, len(starts) + 1, dtype="int64"))
                out_n.append(np.diff(bounds).astype("int64"))
                out_s.append(ts[bounds[:-1]])
                out_e.append(ts[bounds[1:] - 1])
            return pd.DataFrame(
                {
                    "user_id": np.concatenate(out_u),
                    "session_id": np.concatenate(out_sid),
                    "n_events": np.concatenate(out_n),
                    "s_start": np.concatenate(out_s),
                    "s_end": np.concatenate(out_e),
                }
            )

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last_uid = pdf["user_id"].iloc[-1]
            tail = pdf["user_id"] == last_uid
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield emit(body)
        if carry is not None and len(carry):
            yield emit(carry)

    return (
        events.select("user_id", "ts", "event_id")
        .repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(partition_sessions, out_schema)
    )
