"""Bucketed interval-overlap join — the large×large companion to the
broadcast nested-loop banding join (plans/relational.py::join_range_nonequi) and
the small-interval-set overlap join (events_promo_overlap_join).

A theta-join on ``l_start <= r_end AND l_end >= r_start`` between two LARGE
tables cannot broadcast and would otherwise plan as a cartesian product.
The standard decomposition (the same one Spark's range-join hints and
interval libraries use):

1. explode every interval into the fixed-width time buckets it spans
   (``sequence(floor(start/w), floor(end/w))``),
2. equi-join on the bucket id — a plain shuffle hash join whose per-bucket
   blow-up is bounded by the per-bucket interval counts,
3. re-check the exact overlap predicate,
4. keep each matched pair ONCE: a pair overlapping across several buckets
   co-occurs in every bucket of the overlap range, so keep only the FIRST
   common bucket, ``bucket == max(floor(l_start/w), floor(r_start/w))`` —
   an exact dedup with no DISTINCT (which would be a second full shuffle
   of the join output).

Bucket width trades fan-out (long intervals explode into many buckets)
against selectivity (wide buckets put non-overlapping pairs in the same
bucket only to be filtered in step 3). Pick ~the median interval length;
skewed hot buckets fall back to the salting in operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_overlap_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Inner overlap join (``l_start <= r_end AND l_end >= r_start``,
    timestamp columns, closed intervals) via bucket decomposition.

    Returns left ⋈ right rows (all columns of both inputs; names must not
    collide). Exactly one output row per overlapping pair.
    """
    w = int(bucket_seconds)

    def bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
        lo = F.floor(F.unix_seconds(F.col(start)) / w).cast("long")
        hi = F.floor(F.unix_seconds(F.col(end)) / w).cast("long")
        return df.withColumn("__bucket", F.explode(F.sequence(lo, hi)))

    lb = bucketed(left, l_start, l_end)
    rb = bucketed(right, r_start, r_end).withColumnRenamed("__bucket", "__rbucket")

    first_common = F.greatest(
        F.floor(F.unix_seconds(F.col(l_start)) / w).cast("long"),
        F.floor(F.unix_seconds(F.col(r_start)) / w).cast("long"),
    )
    return (
        lb.join(rb, lb["__bucket"] == rb["__rbucket"])
        .where(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(l_end) >= F.col(r_start))
            & (F.col("__bucket") == first_common)
        )
        .drop("__bucket", "__rbucket")
    )
