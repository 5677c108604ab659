"""Event-stream analytics in batch form (``events_*``): SURVEY.md §2.1
"Streaming" row's batch-replay oracles; the live Structured Streaming
counterparts are in slr207_mapreduce_spark/streaming/ with rows-only checks.

Time-bucketed aggregation is MapReduce with a time-derived key (reference
O9 with key = window start); sessions, funnels and transitions are O8
shuffles on user_id with per-key accumulation (ListenerReducer.java:
123-139) and event-time semantics layered on. The batch versions here are
the oracle targets the streaming tests replay against (DuckDB has no
streaming — SURVEY.md §7.3(1)). A RANGE frame is the declarative "last N
seconds" state the reference's streaming reducer could only approximate
with manual eviction.

Timestamp discipline (events.ts is parquet TIMESTAMP(NANOS)): comparisons
happen on integer epoch seconds/hours derived with integer division —
`unix_micros(ts) div 1000000` in Spark equals DuckDB's
`epoch_us(CAST(ts AS TIMESTAMP)) // 1000000` bit-for-bit. Second-moment
filters use exact-DECIMAL mean/std (the SCALE.md exactness invariant), so
the flagged sets are bit-stable at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import (
    COUNTMIN_EVENTS_DEPTH,
    COUNTMIN_EVENTS_WIDTH,
    countmin_hash_rows,
    countmin_hash_sql,
    dec,
    dsum_sql,
)
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.plans.text import _CM_SEED0
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "events_tumbling_window",
    oracle=f"""
    SELECT
      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      {dsum_sql('value')} AS sum_value,
      COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling 1-hour window aggregation (batch form of the streaming "
    "window(); window key = date_trunc of event time).",
    tags=("events", "window_agg"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "events_sliding_window",
    oracle=f"""
    WITH slides AS (
      SELECT e.*, s.offset_min
      FROM events e
      CROSS JOIN (VALUES (0), (30)) AS s(offset_min)
    )
    SELECT
      CAST(date_trunc('hour', ts - to_minutes(offset_min)) + to_minutes(offset_min) AS TIMESTAMP) AS window_start,
      COUNT(*) AS n_events,
      {dsum_sql('value')} AS sum_value
    FROM slides
    GROUP BY 1
    """,
    doc="Sliding window (1 h window, 30 min slide): each event maps to 2 "
    "windows — the explode-to-windows construction Structured Streaming "
    "uses internally.",
    tags=("events", "window_agg"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    # window(ts, '1 hour', '30 minutes') assigns each row to the 2 windows
    # containing it; emit window.start to match the oracle's arithmetic.
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_sessionization",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
                    ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) AS TIMESTAMP) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Sessionization with a 30-min inactivity gap via lag + running sum "
    "(batch form of session_window(); same session boundaries).",
    tags=("events", "session"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE spark.sql() text over the cached events view (r15 build-latency
    # pass, guide §1 — the chained form paid ~0.16 s of eager per-op
    # analysis at sf0.1; plan unchanged: one exchange, two fused window
    # passes, the final groupBy reuses the user_id partitioning).
    # unix_seconds truncates to the second — matches DuckDB
    # date_diff('second'), which counts second-boundary crossings.
    from slr207_mapreduce_spark.sources.tables import table_view

    v = table_view(spark, "events", sf_dir)
    return spark.sql(f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR (unix_seconds(ts) - unix_seconds(LAG(ts) OVER w)) > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM {v}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ),
        sess AS (
          SELECT user_id, ts,
                 CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, COUNT(1) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
    """)


@register(
    "events_time_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events
    GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts))
    """,
    doc="Hypertable-style multi-granularity time rollup: (day, hour), "
    "(day), () subtotals in ONE pass via ROLLUP on truncated timestamps — "
    "the continuous-aggregate shape, instead of three scans.",
    tags=("events", "window_agg", "groupingsets"),
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.rollup(
            F.date_trunc("day", "ts").alias("day"),
            F.date_trunc("hour", "ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )


@register(
    "events_gap_filled_hours",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
             CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ),
    agg AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             COUNT(*) AS n_events,
             {dsum_sql('value')} AS sum_value
      FROM events GROUP BY 1
    )
    SELECT s.hour, coalesce(a.n_events, 0) AS n_events,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM spine s LEFT JOIN agg a ON s.hour = a.hour
    """,
    doc="Gap-filled hourly series: every hour between the first and last "
    "present hour appears, empty hours as zero rows — the time-series "
    "densification pattern. ONE events scan (r16, guide §1.2): the "
    "calendar spine is derived from the hourly aggregate itself — each "
    "present hour emits itself plus zero rows for the gap up to the NEXT "
    "present hour (lead over the tiny hour-level frame), replacing the "
    "previous second full scan (bounds min/max) + left join. The global "
    "lead window runs on aggregated rows only (|hours| — a decade of "
    "hourly buckets is <100k rows, trivially single-partition).",
    tags=("events", "window_agg", "gapfill"),
)
def events_gap_filled_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    agg = e.groupBy(F.date_trunc("hour", "ts").alias("present_hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )
    w = Window.orderBy("present_hour")
    return (
        agg.select(
            "present_hour",
            "n_events",
            "sum_value",
            F.lead("present_hour").over(w).alias("next_hour"),
        )
        .select(
            "present_hour",
            "n_events",
            "sum_value",
            F.explode(
                F.sequence(
                    F.col("present_hour"),
                    F.coalesce(
                        F.col("next_hour") - F.expr("INTERVAL 1 HOUR"),
                        F.col("present_hour"),
                    ),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("hour"),
        )
        .select(
            "hour",
            F.when(F.col("hour") == F.col("present_hour"), F.col("n_events"))
            .otherwise(F.lit(0))
            .alias("n_events"),
            F.when(F.col("hour") == F.col("present_hour"), F.col("sum_value"))
            .otherwise(F.lit(0.0))
            .alias("sum_value"),
        )
    )


@register(
    "events_approx_percentiles",
    oracle=None,  # t-digest/GK sketches are engine-specific by construction
    doc="approx_percentile over event values (p50/p90/p99) — the fixed-"
    "memory quantile path for fact-scale data (exact percentile needs a "
    "global sort). Engine sketches differ from DuckDB's → rows-only; "
    "tests/test_llm_ops.py bounds the error against exact quantiles. The "
    "sketch returns one array but the output unpacks it to scalar columns "
    "so every emitted cell stays hashable for the driver's comparator.",
    tags=("events", "approx"),
)
def events_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("p50"),
            F.col("p")[1].alias("p90"),
            F.col("p")[2].alias("p99"),
        )
    )


@register(
    "events_dedup_latest",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM (
      SELECT event_id, ts, user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="Keep-latest dedup per (user, event_type) — batch form of streaming "
    "dropDuplicates with keep-last semantics (row_number over event time).",
    tags=("events", "dedup"),
)
def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@register(
    "events_funnel",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
             min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
      CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed_after_signup,
      CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
    doc="Ordered funnel (signup → view → purchase) via conditional min — "
    "one shuffle on user_id, no self-joins.",
    tags=("events", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    t = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    per_user = e.groupBy("user_id").agg(
        t("signup").alias("t_signup"),
        t("view").alias("t_view"),
        t("purchase").alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    viewed = signed & (F.col("t_view") > F.col("t_signup"))
    full = viewed & (F.col("t_purchase") > F.col("t_view"))
    as_int = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        as_int(signed).alias("n_signed_up"),
        as_int(viewed).alias("n_viewed_after_signup"),
        as_int(full).alias("n_full_funnel"),
    )


@register(
    "events_retention_cohort",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, day FROM e)
    SELECT cohort_day,
           CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE)) AS BIGINT) AS day_offset,
           COUNT(*) AS n_active_users
    FROM active JOIN firsts USING (user_id)
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
    doc="Cohort retention: users grouped by first-seen day, counted on "
    "each later active day as an offset from their cohort — the classic "
    "retention-triangle relation. Every shuffle keys on user_id (first-seen "
    "min, the active-day distinct) until the final small (cohort, offset) "
    "group; day-granularity truncation makes the ns-vs-µs timestamp "
    "difference moot on both engines.",
    tags=("events", "cohort"),
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    firsts = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = e.distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").cast("long").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_day", "day_offset")
    )


_EPOCH_S_SQL = "epoch_us(CAST(ts AS TIMESTAMP)) // 1000000"


def _epoch_s() -> F.Column:
    return F.expr("unix_micros(ts) div 1000000")


@register(
    "events_range_frame_1h",
    oracle=f"""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_last_hour
    FROM (SELECT *, {_EPOCH_S_SQL} AS es FROM events) e
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    doc="Time-RANGE window frame: per user, count and exact-decimal sum of "
    "activity in the trailing 1 hour — RANGE frames include all peers of "
    "the current ordering value, so the result is deterministic even with "
    "tied timestamps (unlike a ROWS frame). The declarative form of a "
    "sliding per-key state store; at scale one shuffle on user_id.",
    tags=("events", "window"),
)
def events_range_frame_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).withColumn("es", _epoch_s())
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_last_hour"),
    )


@register(
    "events_funnel_stages",
    oracle=f"""
    WITH ev AS (SELECT *, {_EPOCH_S_SQL} AS es FROM events),
    s1 AS (
      SELECT user_id, MIN(es) AS t1 FROM ev WHERE event_type = 'view'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.es) AS t2
      FROM ev e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.es > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.es) AS t3
      FROM ev e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.es > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_viewed,
           (SELECT COUNT(*) FROM s2) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM s3) AS n_purchased_after_click
    """,
    doc="Ordered funnel (view → click → purchase): each stage keeps users "
    "whose stage event STRICTLY follows their previous stage's first "
    "event. ONE scan + one per-user shuffle, AGGREGATION form (r16, guide "
    "§2.3): per user the partial aggregate carries min view-time plus the "
    "click/purchase time lists only, so non-funnel rows collapse map-side "
    "and the exchange never moves event_type strings or the full event "
    "stream (the previous window form shuffled every row, then sorted, "
    "then made three whole-partition window passes + a dedup). Stage "
    "times chain per user via array filters: t2 = min click strictly "
    "after t1, t3 = min purchase strictly after t2 — null-propagation "
    "identical to the window form (x > NULL filters to an empty array, "
    "array_min of empty = NULL).",
    tags=("events", "funnel"),
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn("es", _epoch_s())
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("es"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("es"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("es"))
        ).alias("purchases"),
    )
    staged = per_user.select(
        "user_id",
        "t1",
        F.array_min(F.filter(F.col("clicks"), lambda x: x > F.col("t1"))).alias("t2"),
        "purchases",
    ).select(
        "user_id",
        "t1",
        "t2",
        F.array_min(F.filter(F.col("purchases"), lambda x: x > F.col("t2"))).alias(
            "t3"
        ),
    )
    return staged.agg(
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked_after_view"),
        F.count("t3").alias("n_purchased_after_click"),
    )


@register(
    "events_linear_interpolate",
    oracle=f"""
    WITH sparse AS (
      SELECT ({_EPOCH_S_SQL}) // 3600 AS h, {dsum_sql('value')} AS y
      FROM events
      WHERE event_type = 'error' AND user_id % 7 = 0
      GROUP BY 1
    ),
    bounds AS (
      SELECT ({_EPOCH_S_SQL}) // 3600 AS h FROM events
    ),
    spine AS (
      SELECT unnest(range((SELECT MIN(h) FROM bounds),
                          (SELECT MAX(h) FROM bounds) + 1)) AS h
    ),
    joined AS (
      SELECT spine.h, sparse.y FROM spine LEFT JOIN sparse ON spine.h = sparse.h
    ),
    filled AS (
      SELECT h, y,
        last_value(y IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS py,
        last_value(CASE WHEN y IS NOT NULL THEN h END IGNORE NULLS)
          OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        first_value(y IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ny,
        first_value(CASE WHEN y IS NOT NULL THEN h END IGNORE NULLS)
          OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM joined
    )
    SELECT h AS epoch_hour,
           CASE WHEN y IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
           CASE
             WHEN y IS NOT NULL THEN y
             WHEN py IS NULL THEN ny
             WHEN ny IS NULL THEN py
             ELSE py + (ny - py) * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE))
           END AS value_filled
    FROM filled
    """,
    doc="Gap-filled time series with LINEAR interpolation: sparse hourly "
    "sums joined to a dense hour spine; missing hours get "
    "prev + (next-prev)·frac via forward/backward IGNORE NULLS window "
    "fills (edges clamp to the nearest known value). The known values are "
    "exact decimal sums and the interpolation is one identical IEEE "
    "expression per row, so even the interpolated points are bit-stable. "
    "Spine generation is sequence()+explode — at 100 TB the spine stays "
    "tiny (one row per hour) and the join broadcasts.",
    tags=("events", "timeseries", "interpolation"),
)
def events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # integer floor division straight from microseconds: exact, no float path
    h_expr = F.expr("unix_micros(ts) div 3600000000")
    sparse = (
        ev.where((F.col("event_type") == "error") & (F.col("user_id") % 7 == 0))
        .groupBy(h_expr.alias("h"))
        .agg(F.sum(dec("value")).cast("double").alias("y"))
    )
    bounds = ev.agg(
        F.min(h_expr).alias("h_min"), F.max(h_expr).alias("h_max")
    )
    spine = bounds.select(
        F.explode(F.sequence("h_min", "h_max")).alias("h")
    )
    joined = spine.join(sparse, "h", "left")
    fwd = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bwd = Window.orderBy("h").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    known_h = F.when(F.col("y").isNotNull(), F.col("h"))
    filled = joined.select(
        "h",
        "y",
        F.last("y", ignorenulls=True).over(fwd).alias("py"),
        F.last(known_h, ignorenulls=True).over(fwd).alias("ph"),
        F.first("y", ignorenulls=True).over(bwd).alias("ny"),
        F.first(known_h, ignorenulls=True).over(bwd).alias("nh"),
    )
    py, ny, ph, nh, y, h = (F.col(c) for c in ("py", "ny", "ph", "nh", "y", "h"))
    return filled.select(
        h.alias("epoch_hour"),
        F.when(y.isNotNull(), 0).otherwise(1).alias("interpolated"),
        F.when(y.isNotNull(), y)
        .when(py.isNull(), ny)
        .when(ny.isNull(), py)
        .otherwise(
            py + (ny - py) * ((h - ph).cast("double") / (nh - ph).cast("double"))
        )
        .alias("value_filled"),
    )


@register(
    "events_session_window_batch",
    # Native session_window semantics: a session is a half-open interval
    # [first_ts, last_ts + gap); an event at exactly prev + gap starts a NEW
    # session, so the island flag uses >= on exact timestamps (not a
    # truncated-seconds diff).
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    islands AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM islands
    GROUP BY user_id, sid
    """,
    doc="Spark's native session_window() (30-min gap) run in BATCH: one "
    "shuffle on user_id, sessions merged inside the aggregate. window.end "
    "is last_event + gap (half-open), hence the oracle's >= island flag. "
    "The same five lines run under readStream with a watermark — that "
    "batch/stream symmetry is why the operator exists next to the manual "
    "lag+running-sum form (events_sessionization).",
    tags=("events", "session"),
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_transition_bigrams",
    oracle="""
    WITH nxt AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM nxt
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY n DESC, event_type ASC, next_type ASC
    LIMIT 15
    """,
    doc="Event-type transition matrix (Markov bigrams): per-user lead() "
    "over event time, then a global count of (type, next_type) pairs — "
    "top 15, count desc with full-key tie-break (reference O11 ordering "
    "discipline, ValueThenKeyComparator.java:7-14). One shuffle for the "
    "window + one partial-agg shuffle for the count; at 100 TB the window "
    "shuffle dominates and reuses the user_id partitioning any adjacent "
    "per-user op already established.",
    tags=("events", "window"),
)
def events_transition_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.select("user_id", "event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"), F.asc("next_type"))
        .limit(15)
    )


# Identical double-arithmetic shape on both sides: exact decimal sums ->
# one mean/variance evaluation -> |v - mean| > 2*sd flag. sqrt is
# IEEE-exact, so flags are bit-stable (SCALE.md exactness invariant).
_Z_STATS_SQL = """
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s2
      FROM events
      GROUP BY user_id
"""


@register(
    "events_zscore_outliers",
    oracle=f"""
    WITH stats AS (
    {_Z_STATS_SQL}
    )
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE
             abs(e.value - s.s1 / s.n) > 2.0 * sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n))
           ) AS BIGINT) AS n_outliers
    FROM events e JOIN stats s ON e.user_id = s.user_id
    GROUP BY e.user_id
    """,
    doc="Per-user z-score outlier counts (|v - mean| > 2sd, population sd). "
    "Mean/std come from exact DECIMAL Σv, Σv² — order-independent — then "
    "one IEEE expression evaluates the flag, so a 1000-executor run flags "
    "the identical rows as the single-threaded oracle. Two shuffles on "
    "user_id (stats + rejoin); AQE turns the stats side into a broadcast "
    "when the user dimension is small.",
    tags=("events", "exact"),
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    v = dec("value", 18, 2)
    stats = e.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(v).cast("double").alias("s1"),
        F.sum(v * v).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")))
    joined = e.join(stats, "user_id")
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count_if(F.abs(F.col("value") - mean) > 2.0 * sd).alias("n_outliers"),
    )


@register(
    "events_promo_overlap_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER w, ts) > 1800
                  OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
             ts
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, sid,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, sid
    ),
    promos AS (
      SELECT i AS promo_id,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 5) DAY AS p_start,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 5 + 2) DAY AS p_end
      FROM range(6) t(i)
    )
    SELECT p.promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM promos p
    JOIN sessions s
      ON s.s_start <= p.p_end AND s.s_end >= p.p_start
    GROUP BY p.promo_id
    """,
    doc="Interval-overlap join: user sessions (30-min-gap islands, same "
    "boundaries as events_sessionization) overlap-joined against promo "
    "windows with the half-open interval test s_start<=p_end AND "
    "s_end>=p_start. The promo side is tiny → Spark plans a BROADCAST "
    "nested-loop, which IS the optimal physical strategy for "
    "small-interval-set x big-fact; for large x large the binning "
    "decomposition in operators/asof.py (bucket both sides by "
    "day, equi-join the bucket key, post-filter) bounds the blow-up to "
    "per-bin products, the same strategy Spark's range-join hints use.",
    tags=("events", "interval", "join"),
)
def events_promo_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    gap_s = F.unix_seconds(F.col("ts")) - F.unix_seconds(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        e.select(
            "user_id",
            "ts",
            F.sum(is_new).over(wsum).alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    promos = (
        spark.range(6)
        .select(
            F.col("id").alias("promo_id"),
            (F.lit("2024-01-01").cast("timestamp") + F.make_interval(days=F.col("id") * 5)).alias("p_start"),
            (F.lit("2024-01-01").cast("timestamp") + F.make_interval(days=F.col("id") * 5 + 2)).alias("p_end"),
        )
    )
    j = sessions.join(
        F.broadcast(promos),
        (F.col("s_start") <= F.col("p_end")) & (F.col("s_end") >= F.col("p_start")),
    )
    return j.groupBy("promo_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --- large x large interval overlap join ---------------------------------

_OVERLAP_ORACLE = """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER w, ts) > 1800
                  OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
             ts
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, sid,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, sid
    ),
    promos AS (
      SELECT i AS promo_id,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 5) DAY AS p_start,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 5 + 2) DAY AS p_end
      FROM range(6) t(i)
    )
    SELECT p.promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM promos p
    JOIN sessions s
      ON s.s_start <= p.p_end AND s.s_end >= p.p_start
    GROUP BY p.promo_id
"""


@register(
    "events_overlap_join_bucketed",
    oracle=_OVERLAP_ORACLE,
    doc="The SAME interval-overlap semantics as events_promo_overlap_join "
    "but through the large×large physical strategy "
    "(operators/interval.py::interval_overlap_join_bucketed): both interval "
    "sets explode into day buckets, equi-join on the bucket id (shuffle "
    "hash — no broadcast, no nested loop), exact-overlap re-check, and the "
    "first-common-bucket rule keeps each pair exactly once WITHOUT a "
    "DISTINCT. Sharing the nested-loop oracle proves the decomposition "
    "bit-equivalent; tests pin that the plan has no "
    "BroadcastNestedLoopJoin/CartesianProduct. This is the shape that "
    "survives when BOTH interval sets are fact-sized.",
    tags=("events", "interval", "join"),
)
def events_overlap_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from slr207_mapreduce_spark.operators.interval import (
        interval_overlap_join_bucketed,
    )

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    gap_s = F.unix_seconds(F.col("ts")) - F.unix_seconds(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        e.select("user_id", "ts", F.sum(is_new).over(wsum).alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    promos = spark.range(6).select(
        F.col("id").alias("promo_id"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("id") * 5)
        ).alias("p_start"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("id") * 5 + 2)
        ).alias("p_end"),
    )
    j = interval_overlap_join_bucketed(
        sessions, promos, "s_start", "s_end", "p_start", "p_end",
        bucket_seconds=86400,
    )
    return j.groupBy("promo_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --- capped sessionization (gap + max-duration) --------------------------

_SESS_GAP_S = 1800   # 30-min inactivity gap (matches events_sessionization)
_SESS_CAP_S = 7200   # 2-hour hard session cap

_SESS_SCHEMA = (
    "user_id BIGINT, session_id BIGINT, n_events BIGINT, "
    "s_start TIMESTAMP, s_end TIMESTAMP"
)


def _cap_sessions_fn(pdf):
    # per-user sequential scan: the cap makes session assignment depend on
    # the CURRENT session's start, which no single window pass can express
    pdf = pdf.sort_values(["ts", "event_id"])
    sid, start, prev = 0, None, None
    ids = []
    for ts in pdf["ts"]:
        if (
            prev is None
            or (ts - prev).total_seconds() > _SESS_GAP_S
            or (ts - start).total_seconds() > _SESS_CAP_S
        ):
            sid += 1
            start = ts
        ids.append(sid)
        prev = ts
    pdf = pdf.assign(session_id=ids)
    out = (
        pdf.groupby("session_id", as_index=False)
        .agg(
            user_id=("user_id", "first"),
            n_events=("ts", "size"),
            s_start=("ts", "min"),
            s_end=("ts", "max"),
        )
    )
    return out[["user_id", "session_id", "n_events", "s_start", "s_end"]]


_SESS_CAPPED_ORACLE = f"""
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, rn, ts, ts AS s_start, 1 AS sid
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.ts,
             CASE WHEN date_diff('second', r.ts, e.ts) > {_SESS_GAP_S}
                    OR date_diff('second', r.s_start, e.ts) > {_SESS_CAP_S}
                  THEN e.ts ELSE r.s_start END,
             r.sid + CASE WHEN date_diff('second', r.ts, e.ts) > {_SESS_GAP_S}
                            OR date_diff('second', r.s_start, e.ts) > {_SESS_CAP_S}
                          THEN 1 ELSE 0 END
      FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(sid AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS s_start,
           MAX(ts) AS s_end
    FROM rec GROUP BY user_id, sid
    """


@register(
    "events_sessionization_capped",
    oracle=_SESS_CAPPED_ORACLE,
    doc="Sessionization with BOTH a 30-min inactivity gap AND a 2-hour "
    "hard duration cap. The cap makes session assignment inherently "
    "sequential (a break depends on the CURRENT session's start, which "
    "depends on all earlier breaks) — not expressible as one window "
    "pass, so this is the textbook applyInPandas case: per-user "
    "sequential scan, partition-parallel across users, state bounded by "
    "one user's events. Oracle: per-user recursive CTE threading "
    "(s_start, sid) through the same break predicate. The capped variant "
    "is what real funnels use — without the cap, a bot pinging every "
    "29 minutes produces an unbounded session.",
    tags=("events", "session", "udf"),
)
def events_sessionization_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id")
    return e.groupBy("user_id").applyInPandas(_cap_sessions_fn, schema=_SESS_SCHEMA)


@register(
    "events_sessionization_capped_segmented",
    oracle=_SESS_CAPPED_ORACLE,
    doc="Heavy-hitter-safe variant of events_sessionization_capped — same "
    "semantics (same oracle), vectorized execution: one group per user "
    "(no group-count explosion), with the group body splitting gap-runs "
    "via one numpy diff and advancing by SESSION with searchsorted "
    "(<= duration/cap + 1 steps per run) instead of looping every event "
    "in Python. A bot user with 10^6 gap-free events costs one "
    "vectorized sort + ~10^4 searchsorted calls instead of 10^6 "
    "interpreter iterations; measured 9.5 s vs the loop's 17 s on the "
    "98%-skew fixture and 6 s vs 12 s at sf1 (see SCALE.md round-6 note "
    "and tests/test_skew_and_io.py).",
    tags=("events", "session", "udf", "skew"),
)
def events_sessionization_capped_segmented(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from slr207_mapreduce_spark.operators.skew import capped_sessions_segmented

    e = load_table(spark, "events", sf_dir)
    return capped_sessions_segmented(e, gap_s=_SESS_GAP_S, cap_s=_SESS_CAP_S)


# Events count-min: depth 3 x width 64 per day (per-day user cardinality
# ~150 at sf0.01, so width 64 guarantees visible collisions — a real
# estimator, not an identity map), same portable seed family.
_ECM_DEPTH = COUNTMIN_EVENTS_DEPTH
_ECM_WIDTH = COUNTMIN_EVENTS_WIDTH
_ECM_TOPK = 5


def _ecm_oracle() -> str:
    build = countmin_hash_sql("uid", "h.i", _ECM_WIDTH, _CM_SEED0)
    probe = countmin_hash_sql("t.uid", "h.i", _ECM_WIDTH, _CM_SEED0)
    return f"""
    WITH ev AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(user_id AS VARCHAR) AS uid
      FROM events
    ),
    counts AS (SELECT day, uid, COUNT(*) AS cnt FROM ev GROUP BY day, uid),
    cm AS (
      SELECT day, h.i AS h, {build} AS b, SUM(cnt) AS c
      FROM counts, (SELECT UNNEST(range({_ECM_DEPTH})) AS i) h
      GROUP BY 1, 2, 3
    ),
    top AS (
      SELECT day, uid, cnt FROM (
        SELECT day, uid, cnt,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY cnt DESC, uid) AS rn
        FROM counts
      ) WHERE rn <= {_ECM_TOPK}
    )
    SELECT t.day, CAST(t.uid AS BIGINT) AS user_id,
           CAST(t.cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(c.c) AS BIGINT) AS est_cnt,
           CAST(MIN(c.c) - t.cnt AS BIGINT) AS overcount
    FROM top t, (SELECT UNNEST(range({_ECM_DEPTH})) AS i) h, cm c
    WHERE c.day = t.day AND c.h = h.i AND c.b = {probe}
    GROUP BY t.day, t.uid, t.cnt
    """


@register(
    "events_countmin_trending_daily",
    oracle=_ecm_oracle(),
    doc="Windowed heavy hitters over the event stream — trending-entity / "
    f"bot detection: a per-day depth-{_ECM_DEPTH} x width-{_ECM_WIDTH} "
    "count-min sketch over user_id, probed with each day's top-5 exact "
    "users. The sketch being PURE additive SUMs keyed by (day, row, "
    "bucket) is the point: the identical transform runs under Structured "
    "Streaming as a watermarked windowed aggregation with NO custom "
    "state (tests/test_streaming.py pins stream==batch counters), "
    "because sketch merge == partial aggregation. The oracle rebuilds "
    "the per-day sketches in SQL, hash-checking estimates and realized "
    "overcounts exactly.",
    tags=("events", "sketch", "streaming-analogue"),
)
def events_countmin_trending_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select(
        F.date_trunc("day", "ts").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    counts = ev.groupBy("day", "uid").agg(F.count(F.lit(1)).alias("cnt"))
    hash_rows = countmin_hash_rows(
        F.col("uid"), depth=_ECM_DEPTH, width=_ECM_WIDTH, seed0=_CM_SEED0
    )
    cm = (
        counts.select("day", F.explode(hash_rows).alias("hb"), "cnt")
        .groupBy("day", F.col("hb.h").alias("h"), F.col("hb.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )
    w = Window.partitionBy("day").orderBy(F.desc("cnt"), F.asc("uid"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _ECM_TOPK)
        .drop("rn")
    )
    probed = top.select("day", "uid", "cnt", F.explode(hash_rows).alias("hb")).join(
        F.broadcast(cm).withColumnRenamed("day", "cm_day"),
        (F.col("day") == F.col("cm_day"))
        & (F.col("hb.h") == F.col("h"))
        & (F.col("hb.b") == F.col("b")),
    )
    return probed.groupBy("day", "uid", "cnt").agg(F.min("c").alias("est")).select(
        "day",
        F.col("uid").cast("long").alias("user_id"),
        F.col("cnt").cast("long").alias("exact_cnt"),
        F.col("est").cast("long").alias("est_cnt"),
        (F.col("est") - F.col("cnt")).cast("long").alias("overcount"),
    )

