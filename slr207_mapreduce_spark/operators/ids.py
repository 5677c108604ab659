"""Stable sequential-ID assignment without a single-partition sort.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY collapses the
whole dataset onto ONE task — the classic driver-shaped bottleneck that
cannot work at 100 TB. This operator produces the identical dense rank
0..N-1 with the two-pass zipWithIndex technique the RDD API uses,
expressed on DataFrames:

1. range-repartition + sort-within-partitions by the (total) ordering key
   — a distributed sort, every task bounded;
2. count rows per partition (small job over partition ids);
3. cumulative-sum those counts on the driver (one row per partition) into
   per-partition offsets;
4. one JVM projection adds offset + within-partition ordinal, the low
   33 bits of ``monotonically_increasing_id()`` — no Python worker runs.

The assigned id equals the global rank in the total order REGARDLESS of
where range-partition boundaries land, because offsets are computed from
actual partition sizes — which is what makes the result deterministic and
oracle-checkable while remaining fully parallel.

CRITICAL: the sorted layout is frozen with an eager ``localCheckpoint``
before the sizes pass. ``repartitionByRange`` derives its boundaries from
a RANDOM sample whose seed is NOT stable across jobs, so without the
freeze the sizes job and the id-assignment job can see DIFFERENT
partition layouts — offsets then disagree with actual partition contents
and ids silently collide. Small inputs mask the bug (the boundary sample
covers every row, making boundaries deterministic), which is exactly why
it survives tiny-SF gates and detonates at scale: observed at 60 k rows
as 57 345 distinct ids out of 60 000. The checkpoint pins the result
frame's blocks for the session; long-lived callers can free them after
their terminal action via ``operators.graph.release_result``.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ORDINAL_BITS = 33  # monotonically_increasing_id() = (partition << 33) + ordinal


def _frozen_prefix(
    df: DataFrame, cols: list, num_partitions: int | None, part_agg: Column
) -> tuple[DataFrame, list, list]:
    """Range-partition + sort by ``cols``, tag ``__pid``, freeze with an
    eager checkpoint (module docstring), then return the frozen frame,
    ``part_agg`` per pid (0 if empty) and its exclusive prefix (offsets)."""
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    frozen = (
        df.repartitionByRange(int(n), *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    by_pid = {
        r["__pid"]: r["v"]  # Row.__pid would trip Row's dunder guard
        for r in frozen.groupBy("__pid").agg(part_agg.alias("v")).collect()
    }
    per_part = [by_pid.get(pid, 0) for pid in range(max(by_pid, default=-1) + 1)]
    return frozen, per_part, list(accumulate(per_part, initial=0))


def assign_sequential_ids(
    df: DataFrame,
    order_by: list,
    id_col: str = "seq_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0..N-1 ids in the total order of ``order_by`` (must be a
    unique key for the ids to be deterministic). Entries may be column
    names (ascending) or Column sort expressions (e.g. ``F.desc(...)``).

    Limits: a partition holding 2^33 rows or more (the ordinal's width)
    raises ``ValueError`` on the driver. The ordinal must be evaluated
    over the frozen partitions themselves: a row whose id's partition bits
    differ from its ``__pid`` fails the query instead of colliding."""
    cols = [F.asc(c) if isinstance(c, str) else c for c in order_by]
    frozen, sizes, offsets = _frozen_prefix(df, cols, num_partitions, F.count("*"))
    for pid, size in enumerate(sizes):
        if size >= 1 << _ORDINAL_BITS:
            raise ValueError(
                f"partition {pid} holds {size} rows, over the "
                f"{_ORDINAL_BITS}-bit ordinal; raise num_partitions"
            )
    # guard and id read one __mid evaluation: Catalyst never inlines a
    # nondeterministic column into its consumers
    seq = F.when(
        F.shiftright("__mid", _ORDINAL_BITS) == F.col("__pid"),
        F.lit(offsets).cast("array<bigint>")[F.col("__pid")]
        + F.col("__mid").bitwiseAND((1 << _ORDINAL_BITS) - 1),
    ).otherwise(F.raise_error(F.lit("seq id ordinal read off its frozen partition")))
    return (
        frozen.withColumn("__mid", F.monotonically_increasing_id())
        .withColumn(id_col, seq)
        .drop("__pid", "__mid")
    )


def with_running_total(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    out_col: str = "running_before",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` in the total order of
    ``order_by`` — ``SUM() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    minus the current row, without the single-task global window: the same
    two-pass shape as :func:`assign_sequential_ids` with per-partition
    SUMS (not counts) prefix-summed on the driver. The in-partition pass
    stays an Arrow cumsum: a running sum has no exchange-free JVM form
    (a window over ``__pid`` plans a hash exchange of the frozen frame)."""
    cols = [F.asc(c) for c in order_by]
    frozen, _, offsets = _frozen_prefix(
        df, cols, num_partitions, F.sum(value_col).cast("long")
    )
    out_schema = frozen.drop("__pid").schema.add(out_col, "long", False)

    def add_prefix(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = offsets[int(pdf["__pid"].iloc[0])]
            pdf = pdf.drop(columns="__pid")
            csum = pdf[value_col].cumsum()
            pdf[out_col] = base + seen + csum - pdf[value_col]
            seen += int(csum.iloc[-1])
            yield pdf

    return frozen.mapInPandas(add_prefix, schema=out_schema)
