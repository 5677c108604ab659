"""Window function queries (``window_*``): SURVEY.md §2.1 "Window functions"
row — rank / dense_rank / row_number / lag / lead / running, sliding and
RANGE frames / ntile / share of total.

MapReduce derivation: shuffle on the partition key (reference O8), per-group
sort (reference O11) and a stateful scan in the reduce (reference O9
generalized to carry ordered state). Spark: ``Window.partitionBy().orderBy()``
— one shuffle per distinct partitioning, sort within partitions.

Determinism note: every ORDER BY in a window is made total (unique
tie-break column) so rank/lag results are engine-independent. Share
denominators come from exact DECIMAL window sums so the single division per
row is bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import dec
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "window_rank_topn_per_group",
    oracle="""
    SELECT c_nationkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT c_nationkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rk <= 3
    """,
    doc="Top-3 orders per nation via ROW_NUMBER — the canonical "
    "top-N-per-group (one shuffle on the partition key; with AQE the "
    "rank filter prunes early).",
    tags=("window",),
)
def window_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE spark.sql() text over cached views (r15 build-latency pass,
    # guide §1); plan unchanged — including InferWindowGroupLimit's
    # partial/final WindowGroupLimit pair, which IS the two-level
    # top-N-per-group pruning (each map task forwards only its local
    # top-3 per nation before the exchange).
    from slr207_mapreduce_spark.sources.tables import table_view

    o = table_view(spark, "orders", sf_dir)
    c = table_view(spark, "customer", sf_dir)
    return spark.sql(f"""
        SELECT c_nationkey, o_orderkey, o_totalprice, rk
        FROM (
          SELECT c_nationkey, o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
          FROM {o} JOIN {c} ON o_custkey = c_custkey
        )
        WHERE rk <= 3
    """)


@register(
    "window_rank_dense_rank",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           RANK()       OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate ASC, o_orderkey ASC) AS rnk,
           DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate ASC) AS drnk
    FROM orders
    WHERE o_totalprice > 400000
    """,
    doc="RANK vs DENSE_RANK with date ties (dense_rank ties are well-defined "
    "because equal dates share a rank).",
    tags=("window",),
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_totalprice") > 400000)
    w_rnk = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    w_drnk = Window.partitionBy("o_orderpriority").orderBy(F.asc("o_orderdate"))
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.rank().over(w_rnk).cast("long").alias("rnk"),
        F.dense_rank().over(w_drnk).cast("long").alias("drnk"),
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           LAG(event_type)  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type,
           CAST(date_diff('millisecond',
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
                ts) AS BIGINT) AS ms_since_prev
    FROM events
    """,
    doc="LAG/LEAD over per-user event time — the sessionization primitive "
    "(previous/next event and inter-arrival gap).",
    tags=("window", "events"),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        # DuckDB date_diff('millisecond', a, b) counts ms-boundary crossings
        # = trunc_ms(b) - trunc_ms(a); floor each operand, not the difference.
        (
            F.floor(F.unix_micros(F.col("ts")) / 1000)
            - F.floor(F.unix_micros(prev_ts) / 1000)
        ).cast("long").alias("ms_since_prev"),
    )


@register(
    "window_running_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nth_order
    FROM orders
    """,
    doc="Running totals with an explicit ROWS frame (cumulative spend per "
    "customer; DECIMAL-exact so the running sum is order-stable).",
    tags=("window", "frame"),
)
def window_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
        F.count(F.lit(1)).over(w).cast("long").alias("nth_order"),
    )


@register(
    "window_sliding_frame",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(AVG(CAST(l_quantity AS DECIMAL(12,2))) OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS avg_qty_3
    FROM lineitem
    WHERE l_suppkey <= 3
    """,
    doc="Sliding ROWS frame (3-row moving average of shipped quantity per "
    "supplier).",
    tags=("window", "frame"),
)
def window_sliding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(F.col("l_suppkey") <= 3)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.asc("l_shipdate"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .rowsBetween(-2, Window.currentRow)
    )
    # AVG over a tiny frame: decimal sum / count, both exact -> double stable.
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (
            F.sum(dec("l_quantity")).over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("avg_qty_3"),
    )


@register(
    "window_ntile",
    oracle="""
    SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
    FROM customer
    """,
    doc="NTILE(4) global quartiles by account balance, WITHOUT the "
    "single-partition window ntile() itself would plan: the global rank "
    "comes from the distributed two-pass zipWithIndex operator "
    "(operators/ids.py), and NTILE's bucket arithmetic — first N%k buckets "
    "get ceil(N/k) rows, the rest floor(N/k) — is an exact integer "
    "expression over (rank, N). Every stage is parallel; N joins in as a "
    "broadcast 1-row aggregate.",
    tags=("window",),
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    ranked = assign_sequential_ids(
        c, order_by=[F.desc("c_acctbal"), F.asc("c_custkey")], id_col="__rk"
    )
    n_row = c.agg(F.count(F.lit(1)).alias("__n"))
    # NTILE(k): q=N div k rows per small bucket, the first r=N%k buckets
    # take one extra. rank < r*(q+1) → bucket rank div (q+1), else
    # r + (rank - r*(q+1)) div q. The ELSE branch is unreachable when q=0
    # (its guard needs rank >= N), so the div-by-zero case never evaluates.
    return (
        ranked.join(F.broadcast(n_row))
        .select(
            "c_custkey",
            "c_acctbal",
            (
                F.expr(
                    "CASE WHEN __rk < (__n % 4) * (__n div 4 + 1) "
                    "THEN __rk div (__n div 4 + 1) "
                    "ELSE (__n % 4) + (__rk - (__n % 4) * (__n div 4 + 1)) div (__n div 4) END"
                )
                + 1
            )
            .cast("long")
            .alias("quartile"),
        )
    )


@register(
    "window_percent_rank_cume_dist",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           CAST(rank() OVER w AS BIGINT) AS rk
    FROM orders
    WHERE o_orderkey % 17 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, rk
    """,
    doc="Relative-position window functions: percent_rank ((rk-1)/(n-1)) "
    "and cume_dist (rows≤current/n) per priority class. Both are single "
    "deterministic double divisions over integer rank/count inputs, so "
    "they hash-match across engines; the ORDER BY carries the o_orderkey "
    "tie-break to keep ranks total.",
    tags=("window",),
)
def window_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") % 17 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.rank().over(w).cast("long").alias("rk"),
        )
        .orderBy("o_orderpriority", "rk")
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey)
             OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS priciest_key,
           nth_value(o_orderkey, 2) OVER w AS second_cheapest_key
    FROM orders
    WHERE o_orderkey % 23 = 0
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, o_totalprice, o_orderkey
    """,
    doc="Navigation window functions: first_value / last_value / nth_value "
    "per priority class. last_value carries the explicit UNBOUNDED "
    "FOLLOWING frame (the default RANGE..CURRENT ROW frame makes "
    "last_value mean 'current row' — the classic trap — and Spark and "
    "DuckDB agree on that default, but the query pins the useful "
    "semantics). nth_value with the default frame is NULL until 2 rows "
    "have arrived, identically in both engines.",
    tags=("window",),
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") % 23 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.first("o_orderkey").over(w).alias("cheapest_key"),
            F.last("o_orderkey").over(w_full).alias("priciest_key"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_cheapest_key"),
        )
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    )


@register(
    "window_count_distinct_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(COUNT(DISTINCT o_orderpriority) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS distinct_priorities_so_far
    FROM orders
    WHERE o_custkey % 20 = 0
    """,
    doc="COUNT(DISTINCT) OVER a running frame — Spark's window operator "
    "rejects DISTINCT aggregates, so the engine expresses it as "
    "size(collect_set() OVER frame): semantically identical (set "
    "cardinality per frame) and still a single window pass. The "
    "per-frame set is bounded by the distinct-value domain (5 "
    "priorities), so state stays O(domain), not O(frame) — the right "
    "mental model for running-distinct at 100 TB; for unbounded domains "
    "switch to the HLL sketch column (agg_hll_mergeable_sketches).",
    tags=("window", "distinct"),
)
def window_count_distinct_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir).where(F.col("o_custkey") % 20 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.size(F.collect_set("o_orderpriority").over(w))
        .cast("long")
        .alias("distinct_priorities_so_far"),
    )


@register(
    "window_share_of_total",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(o_totalprice AS DOUBLE)
             / CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER () AS DOUBLE) AS share_of_total,
           CAST(o_totalprice AS DOUBLE)
             / CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                    OVER (PARTITION BY o_orderstatus) AS DOUBLE) AS share_of_status
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
    doc="Ratio-to-report: each order's share of the global and of its "
    "status-group revenue via unbounded window sums (exact DECIMAL "
    "denominators -> one IEEE division per row). The global window is a "
    "single-partition pass — fine here because the filtered input is "
    "bounded; at fact scale the global denominator should come from a "
    "scalar-subquery aggregate instead (one extra reduction, no "
    "single-partition window), same result by exactness.",
    tags=("window", "analytics"),
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") % 20 == 0)
    w_all = Window.partitionBy()
    w_status = Window.partitionBy("o_orderstatus")
    price = F.col("o_totalprice").cast("double")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        (price / F.sum(dec("o_totalprice")).over(w_all).cast("double")).alias(
            "share_of_total"
        ),
        (price / F.sum(dec("o_totalprice")).over(w_status).cast("double")).alias(
            "share_of_status"
        ),
    )


@register(
    "window_numeric_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(count(*) OVER w AS BIGINT) AS n_within_1k,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_within_1k
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
    """,
    doc="RANGE frame over a NUMERIC ordering column: each order sees the "
    "peers within $1000 below it — value-distance framing, peer-inclusive "
    "(ties share a frame), vs the positional ROWS frames. Completes the "
    "frame matrix with window_running/sliding_frame (ROWS) and "
    "events_range_frame_1h (time RANGE). Frame sums go through exact "
    "DECIMAL; one shuffle on the partition key.",
    tags=("window",),
)
def window_numeric_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.asc("o_totalprice"))
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count("*").over(w).alias("n_within_1k"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("sum_within_1k"),
    )

