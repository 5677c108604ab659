"""Warehouse-modeling queries (``cdc_*``, ``scd2_*``, ``warehouse_*``):
change-data capture, slowly-changing-dimension history, incremental
aggregate merge and snapshot diff.

Capability closure of the reference's shuffle+sorted-scan primitives
(SURVEY.md §2.1): windows = O8 hash shuffle (WorkerSender.java:223-230) +
O11 per-group ordered scan (ValueThenKeyComparator.java:7-14). SCD2 history
is built from an event log — change detection via lag(), validity intervals
via lead() — two windows over one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "scd2_user_status_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    changes AS (
      SELECT user_id, ts, event_id, event_type
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type AS status,
           CAST(ts AS TIMESTAMP) AS valid_from,
           CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                AS TIMESTAMP) AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                IS NULL) AS is_current
    FROM changes
    """,
    doc="SCD2 history from an event log: per-user status (event_type) "
    "change rows detected with lag(), half-open validity intervals "
    "[valid_from, valid_to) closed with lead(), NULL valid_to = current "
    "row. ONE shuffle on user_id serves both windows (same partitioning + "
    "ordering), then the change filter — the event-sourced dimension-"
    "table build, no MERGE machinery required. At 100 TB the user "
    "partitioning is reused across both window passes (no re-exchange).",
    tags=("events", "window", "warehouse"),
)
def scd2_user_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    changes = (
        e.select("user_id", "ts", "event_id", "event_type", F.lag("event_type").over(w).alias("prev"))
        .where(F.col("prev").isNull() | (F.col("event_type") != F.col("prev")))
    )
    nxt = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "cdc_latest_state",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value,
           CAST(ts AS TIMESTAMP) AS last_ts
    FROM latest
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="CDC changelog compaction to a latest-state snapshot: treat the "
    "event log as a change stream keyed by user_id ('error' = tombstone "
    "delete, anything else = upsert). Implemented with max_by over a "
    "composite (ts, event_id) ordering struct — partial aggregation "
    "collapses each scan partition to one row per key BEFORE the "
    "exchange, so the shuffle carries |keys| rows, not the full log "
    "(the oracle's row_number formulation would shuffle and sort every "
    "changelog row). At 100 TB this is the compaction pass of a "
    "merge-on-read table.",
    tags=("warehouse", "cdc"),
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct(
        F.col("event_type"),
        F.col("value").cast("decimal(18,2)").alias("value"),
        F.col("ts"),
    )
    last = F.max_by(payload, ordkey)
    return (
        e.groupBy("user_id")
        .agg(last.alias("p"))
        .where(F.col("p.event_type") != "error")
        .select(
            "user_id",
            F.col("p.event_type").alias("last_type"),
            F.col("p.value").cast("double").alias("last_value"),
            F.col("p.ts").alias("last_ts"),
        )
    )


@register(
    "warehouse_incremental_agg_merge",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="Incremental view maintenance: the materialized per-user aggregate "
    "is kept as snapshot(events < cutoff) and refreshed by aggregating "
    "ONLY the delta (events >= cutoff), then merging partials with a "
    "full-outer coalescing join — never rescanning history. The oracle is "
    "the direct full aggregate: the merge must be exactly equivalent "
    "(decimal sums are associative, so partial+merge is bit-identical). "
    "At 100 TB the delta is a day's partition while history stays cold — "
    "this is the only refresh strategy that scales.",
    tags=("warehouse", "incremental"),
)
def warehouse_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("v")
    )
    cutoff = F.lit("2024-01-15").cast("timestamp")

    def part_agg(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    snap = part_agg(e.where(F.col("ts") < cutoff))
    delta = part_agg(e.where(F.col("ts") >= cutoff))
    merged = snap.alias("a").join(delta.alias("b"), "user_id", "full_outer")
    zero_n = F.lit(0).cast("long")
    zero_s = F.lit(0).cast("decimal(18,2)")
    return merged.select(
        "user_id",
        (F.coalesce(F.col("a.n"), zero_n) + F.coalesce(F.col("b.n"), zero_n)).alias(
            "n_events"
        ),
        (F.coalesce(F.col("a.s"), zero_s) + F.coalesce(F.col("b.s"), zero_s))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "warehouse_snapshot_diff",
    oracle="""
    WITH w1 AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events
      WHERE ts < TIMESTAMP '2024-01-11'
      GROUP BY user_id
    ),
    w2 AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
      GROUP BY user_id
    )
    SELECT COALESCE(w1.user_id, w2.user_id) AS user_id,
           CAST(w1.total AS DOUBLE) AS total_period1,
           CAST(w2.total AS DOUBLE) AS total_period2,
           CASE WHEN w1.user_id IS NULL THEN 'added'
                WHEN w2.user_id IS NULL THEN 'removed'
                WHEN w1.total = w2.total THEN 'unchanged'
                ELSE 'changed' END AS change_type
    FROM w1 FULL OUTER JOIN w2 ON w1.user_id = w2.user_id
    """,
    doc="Snapshot diff / reconciliation: per-user activity totals in two "
    "adjacent periods, full-outer joined and classified added / removed / "
    "changed / unchanged. The audit primitive behind table-to-table "
    "reconciliation at scale; both period aggregates prune their scan by "
    "the partition-friendly ts predicate and the join shuffles only the "
    "aggregated (small) keyspace, never raw events.",
    tags=("warehouse", "diff"),
)
def warehouse_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", F.col("value").cast("decimal(18,2)").alias("v")
    )
    d1 = F.lit("2024-01-11").cast("timestamp")
    d2 = F.lit("2024-01-21").cast("timestamp")
    w1 = (
        e.where(F.col("ts") < d1)
        .groupBy("user_id")
        .agg(F.sum("v").alias("total"))
    )
    w2 = (
        e.where((F.col("ts") >= d1) & (F.col("ts") < d2))
        .groupBy("user_id")
        .agg(F.sum("v").alias("total"))
    )
    j = w1.alias("a").join(w2.alias("b"), F.col("a.user_id") == F.col("b.user_id"), "full_outer")
    return j.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.col("a.total").cast("double").alias("total_period1"),
        F.col("b.total").cast("double").alias("total_period2"),
        F.when(F.col("a.user_id").isNull(), "added")
        .when(F.col("b.user_id").isNull(), "removed")
        .when(F.col("a.total") == F.col("b.total"), "unchanged")
        .otherwise("changed")
        .alias("change_type"),
    )

