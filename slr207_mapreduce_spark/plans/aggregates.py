"""Aggregation queries (``agg_*``, ``stats_*``, ``stat_*``, ``estimator_*``):
SURVEY.md §2.1 "Aggregations" + "Grouping sets / rollup / cube" rows, the
statistics and profiling reports, and the estimator error certification.

MapReduce derivation: the reference's reduce (O9, ListenerReducer.java:
123-139) is per-key `+1`; swapping the monoid gives sum/min/max/avg;
count-distinct is a two-round MapReduce (dedup round, count round);
grouping sets = map emits one record per grouping set. In Spark all are
``groupBy().agg(...)`` / ``rollup`` / ``cube`` with automatic partial
aggregation (map-side combine the reference lacks). Richer monoids ride the
same shape: bit/bool, sorted-list concat, sketches, and bitmap OR — the
bitmap distinct count is the classic scale trick, COUNT(DISTINCT) without a
per-group hash set: distinct keys become set bits in fixed-width bucket
bitmaps (commutative OR → full map-side combine), then a popcount sum. On
100 TB this replaces a giant shuffle of raw keys with 4 KB bitmap payloads
per (group, bucket).

Exactness contract: double aggregates go DECIMAL→DOUBLE (functions/portable
.py); derived int columns are cast to BIGINT on both sides so schemas agree.
Spark's builtin skewness()/kurtosis() fold doubles in partition order —
order-dependent bits — so the checked form derives both from exact Σx, Σx²,
Σx³, Σx⁴ via the closed-form central-moment identities, multiplication-only
so both engines produce bit-identical IEEE results at any parallelism.

agg_histogram_equiwidth assigns EXACT integer buckets: FLOOR(cents / width)
via double division is exact for its operands (cents <= ~1.1e7, quotient
resolution 1/width = 1e-6 units, many orders of magnitude above double ulp
at that magnitude, and integer quotients <= 2^53 are exactly
representable), so the correctly-rounded division can never cross an
integer boundary. That avoids the engine-specific `div` vs `//` split.

estimator_error_report certifies the approximate estimators, whose sketch
internals (HLL++ registers, GK/t-digest quantile sketches, MLlib's MinHash
family) are engine-specific, so DuckDB cannot reproduce the ESTIMATES. But
their error CONTRACTS are exact, checkable statements about exact
quantities (the knn_recall_report pattern: an exact, fully-oracled query
OVER approximate inputs). It emits one row per certified bound with

- ``estimator``   — which estimator/group/percentile the row certifies,
- ``exact_value`` — the exact reference quantity (distinct count, group
  row count, exact near-dup pair count) computed by real aggregation on
  BOTH engines,
- ``bound``       — the certified bound constant,
- ``bound_held``  — Spark evaluates the bound against the live estimate;
  the oracle asserts the contract (TRUE).

A match therefore certifies that every estimator met its documented bound
on this data; an estimator that drifts past its bound makes the Spark side
emit FALSE and the oracle check fail. All estimators involved are
deterministic on fixed data (HLL++/GK sketches are deterministic
algorithms; MinHashLSH is seeded), so the report is stable run-to-run.
Certified contracts:

1. ``approx_count_distinct(rsd=0.02)`` per o_orderpriority (the
   agg_approx_count_distinct config): relative error ≤ 0.06 = 3·rsd
   (measured 0.009/0.005/0.033 at sf0.01/0.1/1 — the bound is the
   3-sigma contract, not a tuned-to-data number).
2. ``hll_sketch_agg``/``hll_union_agg`` per-lang and union-merged (the
   agg_hll_mergeable_sketches config): relative error ≤ 0.02 (sparse-mode
   exact at every tier here; the bound stays the datasketches contract).
3. ``percentile_approx(accuracy=10000)`` p50/p90/p99 per event_type (the
   events_approx_percentiles config): RANK error — the returned value's
   true rank interval [#(x<v)+1, #(x≤v)] must come within n/accuracy + 1
   of the target rank p·n. This is the published GK-sketch guarantee
   verified with exact counts (measured worst slack beyond n/accuracy:
   0.62 ranks).
4. MLlib MinHashLSH (dedup_minhash_ml config, 8 tables, seed 42): recall
   of exact shingle-Jaccard pairs at j ≥ 0.5 must be 1.0 — at 8 hash
   tables a j ≥ 0.5 pair escapes with probability ≤ (1-j)^8 ≤ 0.4%, so a
   single miss on this corpus indicates a bug, not bad luck (the
   tests/test_mllib_lsh.py contract).

Scale shape of the report: one scan of orders, two of documents plus the
inverted-index self-join of the exact-Jaccard tier (term-keyed, never
all-pairs), two of events; every verification join carries keys/counts
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import (
    davg,
    davg_sql,
    dec,
    dsum,
    dsum_sql,
    portable_hash64_lane_sql,
)
from slr207_mapreduce_spark.operators.dedup import ngram_jaccard_pairs, ngram_jaccard_sql
from slr207_mapreduce_spark.operators.mllib_lsh import minhash_neardup_pairs_ml
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "agg_basic_stats",
    oracle=f"""
    SELECT
      l_returnflag,
      COUNT(*) AS n_rows,
      {dsum_sql('l_quantity')} AS sum_qty,
      CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
      CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
      {davg_sql('l_extendedprice')} AS avg_price,
      CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
      CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="count/sum/min/max/avg over doubles and timestamps per group.",
    tags=("agg",),
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT
      o_orderpriority,
      COUNT(DISTINCT o_custkey) AS n_customers,
      COUNT(DISTINCT o_orderstatus) AS n_statuses,
      COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact count-distinct (two-phase: dedup shuffle then count — the "
    "classic two-round MapReduce; Spark plans expand+2-stage agg).",
    tags=("agg",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_approx_count_distinct",
    oracle=None,  # HLL sketches differ across engines by design → rows-only
    doc="approx_count_distinct (HyperLogLog++). The scale path for distinct "
    "counting: one pass, fixed memory, no dedup shuffle. Engine sketches "
    "differ from DuckDB's, so no value oracle; tests bound relative error "
    "against the exact count instead (tests/test_aggregates.py).",
    tags=("agg", "approx"),
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_customers_approx")
    )


@register(
    "agg_having",
    oracle=f"""
    SELECT l_partkey, {dsum_sql('l_quantity')} AS total_qty, COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 400
    """,
    doc="Post-aggregation filter (HAVING) — filter over the reduce output.",
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_quantity")).alias("q_dec"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .where(F.col("q_dec") > 400)
        .select(
            "l_partkey", F.col("q_dec").cast("double").alias("total_qty"), "n_lines"
        )
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           array_to_string(list_sort(list(DISTINCT CAST(l_suppkey AS BIGINT))), ',') AS suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Array aggregation made deterministic: collect_set is unordered by "
    "construction, so every collected array is sort_array'd before leaving "
    "the operator — the only way array aggs can be reproducible under "
    "partitioning. Output arrays are serialized to ',' joined strings so "
    "every emitted cell is scalar (keeps order-insensitive hash comparators "
    "that sort raw cells happy).",
    tags=("agg", "array"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return l.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
            "statuses"
        ),
        F.array_join(
            F.sort_array(F.collect_set(F.col("l_suppkey").cast("long"))), ","
        ).alias("suppliers"),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {dsum_sql('l_extendedprice')} AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy: (flag,status), (flag), () subtotals with NULL "
    "group markers — map emits one record per grouping set.",
    tags=("agg", "groupingsets"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return l.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, {dsum_sql('o_totalprice')} AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE: all 2^k grouping sets.",
    tags=("agg", "groupingsets"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    doc="Explicit GROUPING SETS (disjoint single-column sets).",
    tags=("agg", "groupingsets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame API has no direct grouping-sets builder; SQL is the idiomatic
    # surface (same Catalyst Expand plan as rollup/cube).
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "agg_hll_mergeable_sketches",
    oracle=None,  # Datasketches HLL binary sketches are engine-specific → rows-only
    doc="Mergeable-sketch aggregation: per-language HLL sketches of "
    "document sources, union-merged to a global estimate WITHOUT "
    "re-scanning the data. This is the re-aggregation property exact "
    "distinct counts lack: at 100 TB "
    "the per-partition/per-day sketches are built once and any rollup "
    "(week, global, per-lang) is a cheap union of sketch bytes, the "
    "cube/continuous-aggregate pattern. Estimates are exact here (HLL "
    "sparse mode below ~thousands of distincts); the test pins est == "
    "exact per group.",
    tags=("agg", "approx", "sketch"),
)
def agg_hll_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    per_lang = d.groupBy("lang").agg(
        F.hll_sketch_agg("source").alias("sk"),
        F.countDistinct("source").cast("long").alias("exact_sources"),
    )
    est = per_lang.select(
        "lang",
        F.hll_sketch_estimate("sk").cast("long").alias("est_sources"),
        "exact_sources",
    )
    merged = per_lang.agg(
        F.lit("__all__").alias("lang"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est_sources"),
        F.lit(None).cast("long").alias("exact_sources"),
    )
    return est.unionByName(merged).orderBy("lang")


@register(
    "agg_exact_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(l_quantity) AS DOUBLE) AS sx,
             CAST(SUM(l_quantity * l_quantity) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_extendedprice AS DECIMAL(12,2)))) AS DOUBLE) AS syy,
             CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(l_extendedprice AS DECIMAL(12,2)))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows,
           sx / n AS mean_qty,
           sqrt((n * syy - sy * sy) / (n * (n - 1))) AS stddev_price,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
    FROM s
    ORDER BY l_returnflag
    """,
    doc="Exact-sum statistical moments: sample stddev and Pearson "
    "correlation derived from DECIMAL-exact Σx/Σx²/Σxy, with the algebra "
    "done in double on identical operands (each *, -, /, sqrt is one "
    "deterministic IEEE op). The builtin stddev/corr use Welford-style "
    "accumulation whose result depends on partition merge ORDER — fine "
    "statistically, but not reproducible run-to-run at cluster scale; "
    "this shape is. l_quantity is integral so its raw double sums are "
    "exact; prices go through DECIMAL(12,2); the squared/cross terms "
    "are exact DECIMAL products summed without rounding.",
    tags=("agg", "stats"),
)
def agg_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = dec("l_extendedprice")
    q = dec("l_quantity")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("sx"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).cast("double").alias("sxx"),
        F.sum(p).cast("double").alias("sy"),
        # FLOOR before the double cast: these two sums carry scale-4
        # unscaled values past 2^53, where DuckDB's decimal->double is a
        # TWO-step rounding (int128->double, then *1e-4) while Spark's
        # BigDecimal cast is correctly rounded — a 1-ulp cross-engine drift
        # (observed at sf0.001). Flooring to an exact integer first makes
        # the conversion single-rounded and identical in both engines; the
        # <=1-unit truncation is ~1e-13 relative, applied identically.
        F.floor(F.sum(p * p)).cast("double").alias("syy"),
        F.floor(F.sum(q * p)).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n_rows",
        (sx / n).alias("mean_qty"),
        F.sqrt((n * syy - sy * sy) / (n * (n - F.lit(1.0)))).alias("stddev_price"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@register(
    "agg_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY ALL
    """,
    doc="GROUP BY ALL (Spark 4 / modern-SQL sugar): every non-aggregate "
    "select-list column becomes a grouping key, so wide summary queries "
    "can't silently drop a key. Plans to the same partial+final "
    "HashAggregate as an explicit GROUP BY; DuckDB supports the identical "
    "syntax, so the oracle is textually the same query.",
    tags=("agg", "sql"),
)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               MIN(o_orderdate) AS first_order,
               MAX(o_orderdate) AS last_order
        FROM orders
        GROUP BY ALL
        """
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_finished,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS rev_open,
           CAST(count(*) FILTER (WHERE o_totalprice > 150000.0) AS BIGINT) AS n_big
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="FILTER (WHERE ...) conditional aggregation: one scan computes N "
    "predicated aggregates — at 100 TB this replaces N filtered self-"
    "aggregations (N scans) with one, and every branch still map-side "
    "combines. Double sums go through exact DECIMAL (SCALE.md).",
    tags=("agg",),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    fin = F.col("o_orderstatus") == "F"
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count_if(fin).alias("n_finished"),
        F.sum(F.when(fin, dec("o_totalprice"))).cast("double").alias("rev_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", dec("o_totalprice")))
        .cast("double")
        .alias("rev_open"),
        F.count_if(F.col("o_totalprice") > 150000.0).alias("n_big"),
    )


@register(
    "agg_min_by_max_by",
    # Oracle avoids arg_min/arg_max tie ambiguity by construction: the
    # ordering struct ends in the unique key, so rn=1 is a total order.
    oracle="""
    WITH lo AS (
      SELECT o_orderstatus, o_orderkey,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
      FROM orders
    ),
    hi AS (
      SELECT o_orderstatus, o_orderkey,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT l.o_orderstatus,
           l.o_orderkey AS cheapest_order,
           h.o_orderkey AS priciest_order
    FROM lo l JOIN hi h ON l.o_orderstatus = h.o_orderstatus
    WHERE l.rn = 1 AND h.rn = 1
    """,
    doc="min_by / max_by argmin-argmax aggregates. The ordering key is the "
    "composite struct(price, orderkey) — a TOTAL order, so ties cannot "
    "occur and any engine returns the same row. Plain aggregation (full "
    "map-side combine), vs the oracle's window formulation which must "
    "materialize per-group sorts.",
    tags=("agg",),
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    order_struct = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", order_struct).alias("cheapest_order"),
        F.max_by("o_orderkey", order_struct).alias("priciest_order"),
    )


@register(
    "agg_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           quantile_cont(l_extendedprice, 0.90) AS price_p90,
           median(l_quantity) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (percentile()/median()): sort-"
    "within-aggregate, one shuffle on the group key. Linear interpolation "
    "on the sorted values is position arithmetic — order-independent, so "
    "it hash-matches DuckDB's quantile_cont exactly. At 100 TB the "
    "declared approx_percentile (events_approx_percentiles) is the "
    "default; this is the exact verifier tier.",
    tags=("agg",),
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        F.percentile("l_extendedprice", F.lit(0.90)).alias("price_p90"),
        F.median("l_quantity").alias("med_qty"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_ord,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Several COUNT(DISTINCT ...) over different keys in ONE aggregation. "
    "Catalyst plans this with Expand (each row fans out once per distinct "
    "key set, then a two-phase distinct+count) — one scan instead of three "
    "self-aggregated scans. The 100 TB trade: Expand multiplies shuffle "
    "rows by the number of distinct columns; beyond a few, rewrite to HLL "
    "sketches (agg_hll_mergeable_sketches) or bitmaps (agg_bitmap_distinct).",
    tags=("agg",),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct("l_partkey").alias("n_part"),
        F.count_distinct("l_orderkey").alias("n_ord"),
        F.count("*").alias("n_rows"),
    )


# Shared SQL text for the closed-form moment math. The arithmetic shape is
# IDENTICAL on both sides (left-associative +/-/*, sqrt only — no pow()):
# libm pow() is not correctly rounded and differs across implementations,
# but *, /, sqrt are IEEE-exact, so writing x*x*x instead of pow(x,3)
# makes the doubles bit-identical in Spark and DuckDB.
_MOMENT_MATH = """
    SELECT l_linestatus,
           n,
           m1,
           (s2 / n - m1 * m1) AS variance,
           (s3 / n - 3.0 * m1 * (s2 / n) + 2.0 * m1 * m1 * m1)
             / ((s2 / n - m1 * m1) * sqrt(s2 / n - m1 * m1)) AS skewness,
           (s4 / n - 4.0 * m1 * (s3 / n) + 6.0 * m1 * m1 * (s2 / n)
              - 3.0 * m1 * m1 * m1 * m1)
             / ((s2 / n - m1 * m1) * (s2 / n - m1 * m1)) - 3.0 AS kurtosis
    FROM sums
"""


@register(
    "agg_skew_kurt_exact",
    # DECIMAL(8,2) base, NOT 38,6: the power chain multiplies precisions
    # (Spark: p1+p2+1 per step), so an (8,2) operand keeps q^4 at (35,8) —
    # inside the 38-digit cap, hence EXACT. A wide base like (38,6) blows
    # past 38 digits at q*q and triggers precision-loss rounding that Spark
    # and DuckDB perform differently (≈1e-14 drift, caught at sf0.001).
    oracle=f"""
    WITH sums AS (
      SELECT l_linestatus,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s4
      FROM lineitem
      GROUP BY l_linestatus
    )
    {_MOMENT_MATH}
    """,
    doc="Exact population skewness and excess kurtosis from DECIMAL power "
    "sums (Σx..Σx⁴ are exact 128-bit decimal — order-independent at any "
    "parallelism), then one closed-form double evaluation per group. "
    "Spark's builtin skewness()/kurtosis() accumulate doubles in partition "
    "order and drift in the last bits between runs; this form is "
    "bit-stable AND verifiable against a single-threaded oracle — the "
    "SCALE.md exactness-under-parallelism invariant applied to third and "
    "fourth moments. No pow(): libm pow is not correctly rounded; "
    "multiplication chains and sqrt are.",
    tags=("agg", "exact"),
)
def agg_skew_kurt_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    q = dec("l_quantity", 8, 2)  # (8,2): keeps q^4 exact — see oracle note
    sums = li.groupBy("l_linestatus").agg(
        F.count("*").cast("double").alias("n"),
        (F.sum(q).cast("double") / F.count("*").cast("double")).alias("m1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
    )
    sums.createOrReplaceTempView("agg_skew_power_sums")
    return spark.sql(_MOMENT_MATH.replace("FROM sums", "FROM agg_skew_power_sums"))


@register(
    "agg_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity ASC, l_orderkey ASC,
                                         l_linenumber ASC) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN l_quantity END) AS p25,
           MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN l_quantity END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN l_quantity END) AS p90
    FROM ranked
    GROUP BY l_returnflag
    """,
    doc="Exact DISCRETE percentiles (the value AT rank ceil(p*n), never "
    "interpolated — what percentile_disc computes): deterministic "
    "total order via (value, orderkey, linenumber) tie-break, rank "
    "filter, then a pivot-style conditional MAX. Complements "
    "agg_exact_percentiles (continuous/interpolated). Same formulation "
    "both engines, so the check is cross-engine exact even though "
    "quantity is a double. One window sort per group — at 100 TB swap "
    "in the two-pass count+rank-range plan or approx_percentile.",
    tags=("agg", "percentile"),
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    w = Window.partitionBy("l_returnflag").orderBy(
        F.asc("l_quantity"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    wall = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )

    def at(p):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("l_quantity"),
            )
        )

    return ranked.groupBy("l_returnflag").agg(
        at(0.25).alias("p25"), at(0.50).alias("p50"), at(0.90).alias("p90")
    )


# Count-Min geometry: width = ceil(e / eps) for eps = 1e-4, depth =
# ceil(ln(1/delta)) for delta = 0.01 — the same parameterization Spark's
# count_min_sketch(eps, confidence) uses.
CMS_WIDTH = 27183
CMS_DEPTH = 5


def _cms_buckets(key: str):
    """depth sort-independent (row, bucket) coordinates for a key: row d
    hashes with the md5-PORTABLE family (lane d%2 of digest pair d//2 —
    functions/portable.py), bucket = hash % width. The portable family
    (rather than xxhash64) makes the entire sketch table reproducible
    bit-for-bit in the DuckDB oracle; lane packing keeps it at
    ceil(depth/2) md5 evaluations per input row. The 60-bit lane value is
    non-negative, so plain % is already the positive modulus."""
    from slr207_mapreduce_spark.functions.portable import portable_hash64_lane

    key_str = F.col(key).cast("string")
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (portable_hash64_lane(key_str, d // 2, d % 2) % CMS_WIDTH).alias("b"),
            )
            for d in range(CMS_DEPTH)
        ]
    )


def _cms_bucket_sql(key_expr: str, d: int) -> str:
    """DuckDB rendering of one `_cms_buckets` coordinate."""
    lane = portable_hash64_lane_sql(f"CAST({key_expr} AS VARCHAR)", d // 2, d % 2)
    return f"({lane}) % {CMS_WIDTH}"


def cms_table(df: DataFrame, key: str) -> DataFrame:
    """Count-Min sketch AS a DataFrame: the (d, b, cnt) count table.

    Each input row increments one bucket per hash row; the table is
    bounded by depth*width rows REGARDLESS of input size, and merging
    partial sketches is just union + re-sum of counts (counts are
    distributive) — no opaque binary, no driver round-trip, no private
    API. Estimation = min over the key's depth buckets (colliding keys
    only ever ADD counts, hence est >= true)."""
    return (
        df.select(F.explode(_cms_buckets(key)).alias("db"))
        .groupBy(F.col("db.d").alias("d"), F.col("db.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


_CMS_ORACLE = f"""
    WITH src AS (SELECT l_partkey FROM lineitem),
    coords AS (
      SELECT l_partkey, CAST(u.d AS INTEGER) AS d,
             CASE u.d
               {" ".join(f"WHEN {d} THEN {_cms_bucket_sql('l_partkey', d)}" for d in range(CMS_DEPTH))}
             END AS b
      FROM src, UNNEST(range(0, {CMS_DEPTH})) AS u(d)
    ),
    sketch AS (
      SELECT d, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM coords GROUP BY d, b
    ),
    top AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM src GROUP BY l_partkey
      ORDER BY true_cnt DESC, l_partkey ASC LIMIT 10
    ),
    probes AS (
      SELECT t.l_partkey, t.true_cnt, CAST(u.d AS INTEGER) AS d,
             CASE u.d
               {" ".join(f"WHEN {d} THEN {_cms_bucket_sql('t.l_partkey', d)}" for d in range(CMS_DEPTH))}
             END AS b
      FROM top t, UNNEST(range(0, {CMS_DEPTH})) AS u(d)
    )
    SELECT p.l_partkey, p.true_cnt,
           MIN(s.cnt) AS est_cnt,
           MIN(s.cnt) - p.true_cnt AS overshoot
    FROM probes p JOIN sketch s ON p.d = s.d AND p.b = s.b
    GROUP BY p.l_partkey, p.true_cnt
    """


@register(
    "agg_count_min_frequency",
    # Full oracle since round 4: the sketch's md5-portable hash family makes
    # the (d, b, cnt) table — and therefore the probe estimates —
    # bit-reproducible in DuckDB. CMS guarantees (est >= true, est <= true
    # + eps*N at confidence, partial-table merge == single-pass build) stay
    # pinned in tests/test_llm_ops.py::test_count_min_sketch_guarantees_and_merge.
    oracle=_CMS_ORACLE,
    doc="Frequency estimation with a Count-Min sketch built natively in "
    "DataFrame land: the sketch is a (depth, bucket, count) table "
    "(cms_table — bounded by depth*width rows regardless of input size, "
    "mergeable by union + re-sum), probed by joining the top-10 hot "
    "parts' bucket coordinates against it and taking min(count) per key. "
    "Output: true count vs estimate vs overshoot per probe key. One "
    "distributed plan end-to-end — no sketch binary through the driver, "
    "no private JVM handles; the probe join broadcasts the 50-row probe "
    "side. Exact probe-side counts exist only to exhibit the error "
    "envelope.",
    tags=("agg", "sketch"),
)
def agg_count_min_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey")
    sketch = cms_table(li, "l_partkey")
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("l_partkey"))
        .limit(10)
    )
    probes = top.select(
        "l_partkey", "true_cnt", F.explode(_cms_buckets("l_partkey")).alias("db")
    ).select("l_partkey", "true_cnt", F.col("db.d").alias("d"), F.col("db.b").alias("b"))
    return (
        sketch.join(F.broadcast(probes), ["d", "b"])
        .groupBy("l_partkey", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select(
            "l_partkey",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overshoot"),
        )
    )


@register(
    "agg_bitwise_bool",
    oracle="""
    SELECT o_orderstatus,
           bit_and(o_custkey) AS and_cust,
           bit_or(o_custkey) AS or_cust,
           bit_xor(o_custkey) AS xor_cust,
           bool_and(o_totalprice > 1000.0) AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Bitwise (AND/OR/XOR) and boolean (EVERY/ANY/COUNT_IF) aggregate "
    "monoids — all commutative+associative, so Spark's partial/final split "
    "gives full map-side combine for free.",
    tags=("agg", "bitwise"),
)
def agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderstatus").agg(
        F.bit_and("o_custkey").alias("and_cust"),
        F.bit_or("o_custkey").alias("or_cust"),
        F.bit_xor("o_custkey").alias("xor_cust"),
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@register(
    "agg_string_agg_ordered",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           string_agg(CAST(l_orderkey AS VARCHAR), ',' ORDER BY l_orderkey, l_linenumber)
             AS first_keys
    FROM lineitem
    WHERE l_orderkey < 40
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Ordered string aggregation (LISTAGG/string_agg WITHIN GROUP): "
    "collect_list is partition-order-nondeterministic, so the list is "
    "sorted on an explicit total order (orderkey, linenumber) before "
    "concat — duplicates retained, unlike agg_collect_sorted's set.",
    tags=("agg", "array"),
)
def agg_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") < 40)
    # Sort (orderkey, linenumber) pairs as structs, then project the string.
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_orderkey", "l_linenumber"))
                ),
                lambda s: s["l_orderkey"].cast("string"),
            ),
            ",",
        ).alias("first_keys")
    )


@register(
    "agg_grouping_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="GROUPING()/GROUPING_ID() markers distinguishing real NULL keys from "
    "subtotal rows in ROLLUP output — the only reliable way to consume "
    "grouping-set results.",
    tags=("agg", "groupingsets"),
)
def agg_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.grouping_id("l_returnflag", "l_linestatus").cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_width_bucket_histogram",
    oracle="""
    SELECT CAST(CASE
             WHEN o_totalprice < 0.0 THEN 0
             WHEN o_totalprice >= 600000.0 THEN 7
             ELSE CAST(floor(o_totalprice / (600000.0 / 6)) AS BIGINT) + 1
           END AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc="Fixed-width histogram via width_bucket(x, 0, 600000, 6) — the "
    "single-pass distributed histogram (bucket id is a pure map-side "
    "expression; one small shuffle of bucket counts). Oracle reproduces "
    "width_bucket's floor((x-lo)/((hi-lo)/n))+1 arithmetic literally.",
    tags=("agg", "histogram"),
)
def agg_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(6))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    ranked AS (
      SELECT l_returnflag, l_linestatus, cnt,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, l_linestatus ASC) AS rn
      FROM counts
    )
    SELECT l_returnflag, l_linestatus AS mode_status, cnt AS mode_count
    FROM ranked WHERE rn = 1
    """,
    doc="Deterministic MODE: built-in mode() leaves ties engine-defined, so "
    "the portable form is count-then-argmax with an explicit tie-break "
    "(count DESC, value ASC) — two shuffles, both on small group keys.",
    tags=("agg",),
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    counts = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("l_linestatus")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_linestatus").alias("mode_status"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "agg_regression_exact",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(25,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(25,4))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
    FROM s
    """,
    doc="Exact OLS regression (price ~ quantity) per group: built-in "
    "regr_slope accumulates doubles in partition order (nondeterministic "
    "under shuffle), so the moments Sx/Sy/Sxx/Sxy are summed as exact "
    "DECIMALs and the closed form evaluated once in IEEE double — "
    "bit-stable on any cluster size. Same pattern as agg_exact_moments.",
    tags=("agg", "stats"),
)
def agg_regression_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DecimalType

    l = load_table(spark, "lineitem", sf_dir)
    q, p = dec("l_quantity"), dec("l_extendedprice")
    prod = lambda a, b: (a * b).cast(DecimalType(25, 4))  # noqa: E731
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(prod(q, q)).cast("double").alias("sxx"),
        F.sum(prod(q, p)).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Bitmap-index distinct count: keys become set bits in fixed 32768-"
    "bit bucket bitmaps (bitmap_bit_position/bitmap_construct_agg), merged "
    "with commutative OR, popcounted and summed. Exact like "
    "COUNT(DISTINCT) but shuffles ~4 KB per (group,bucket) instead of "
    "every raw key — the scale path between exact distinct and HLL. "
    "Oracle: plain COUNT(DISTINCT).",
    tags=("agg", "distinct", "bitmap"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    per_bucket = l.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_partkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias("bm")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_parts")
    )


@register(
    "stats_robust",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty,
             quantile_cont(l_quantity, 0.1) AS p10,
             quantile_cont(l_quantity, 0.9) AS p90
      FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
      SELECT l.l_returnflag,
             quantile_cont(abs(l.l_quantity - m.med_qty), 0.5) AS mad_qty
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
      GROUP BY l.l_returnflag
    ),
    trimmed AS (
      SELECT l.l_returnflag,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
      FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
      WHERE l.l_quantity >= m.p10 AND l.l_quantity <= m.p90
      GROUP BY l.l_returnflag
    )
    SELECT m.l_returnflag, m.med_qty, d.mad_qty, t.trimmed_mean
    FROM med m
    JOIN mad d ON m.l_returnflag = d.l_returnflag
    JOIN trimmed t ON m.l_returnflag = t.l_returnflag
    """,
    doc="Robust statistics per group: median absolute deviation (median of "
    "|x - median|) and the 10-90% trimmed mean — exact interpolated "
    "percentiles (order-independent position arithmetic), a broadcast "
    "re-join of the per-group cutoffs, and a DECIMAL-exact conditional "
    "mean. Two passes over the fact by information flow (MAD needs the "
    "median first) — the outlier-resistant alternative to "
    "events_zscore_outliers when heavy tails poison mean/stddev.",
    tags=("agg", "stats"),
)
def stats_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    med = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_quantity", F.lit(0.1)).alias("p10"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90"),
    )
    # second (and last) fact pass: MAD and the trimmed mean fold into ONE
    # aggregation over the cutoff-joined scan — conditional sum/count
    # instead of a separate filtered pass, and med_qty rides along via
    # first() instead of a third join back to `med`. Two scans total,
    # the information-theoretic floor (MAD needs the median first).
    in_band = (F.col("l_quantity") >= F.col("p10")) & (
        F.col("l_quantity") <= F.col("p90")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("med_qty").alias("med_qty"),
            F.median(F.abs(F.col("l_quantity") - F.col("med_qty"))).alias("mad_qty"),
            (
                F.sum(F.when(in_band, dec("l_quantity"))).cast("double")
                / F.count(F.when(in_band, F.lit(1))).cast("double")
            ).alias("trimmed_mean"),
        )
    )


# --------------------------------------------------------------------------
# Salted two-phase aggregation (skewed group keys)
# --------------------------------------------------------------------------


@register(
    "agg_salted_skewed_groups",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Two-phase SALTED aggregation for pathologically skewed group keys "
    "(the aggregation twin of join_salted): phase 1 groups by "
    "(event_type, event_id % 16) so one hot key spreads over 16 reducers; "
    "phase 2 re-aggregates the 16 partials per key. COUNT and DECIMAL SUM "
    "are associative, so the result is bit-identical to the direct "
    "groupBy — the oracle IS the unsalted query (salting must be "
    "result-invariant). Note Spark's own partial aggregation already "
    "handles MOST skew (map-side combine bounds reducer input by "
    "#partitions x #keys); explicit salting is the escape hatch when "
    "per-partition cardinality explodes that bound or AQE skew handling "
    "is unavailable mid-pipeline.",
    tags=("agg", "skew"),
)
def agg_salted_skewed_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    partial = (
        e.selectExpr(
            "event_type",
            "pmod(event_id, 16) AS __salt",
            "CAST(value AS DECIMAL(14,2)) AS v",
        )
        .groupBy("event_type", "__salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("v").alias("pv"))
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Portable HyperLogLog (md5 hash family, integer-arithmetic estimate)
# --------------------------------------------------------------------------

_HLL_M = 256  # 2^8 buckets: first 2 hex digits of the digest
_HLL_ALPHA_E6 = 718271  # alpha_256 = 0.7213/(1 + 1.079/256), e6 fixed point
_HLL_K = _HLL_M * _HLL_M * (1 << 30)  # m^2 * 2^30 (exact int, 2^46)


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(bucket, r) HLL registers over ``col``: bucket = first 8 digest
    bits, r = max over rows of the 1-based first-set-bit position of the
    next 60 bits (0-valued lanes count as 61). max() is idempotent and
    commutative, so registers build in one partial+final aggregation and
    MERGE by max — the sketch's defining property (pinned in tests)."""
    return (
        df.selectExpr(f"md5(concat('hll|', CAST({col} AS STRING))) AS h")
        .selectExpr(
            "CAST(conv(substring(h, 1, 2), 16, 10) AS BIGINT) AS bucket",
            "CAST(conv(substring(h, 3, 15), 16, 10) AS BIGINT) AS x",
        )
        .selectExpr(
            "bucket",
            "CASE WHEN x = 0 THEN 61 ELSE 61 - length(bin(x)) END AS rho",
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )


@register(
    "agg_hll_portable",
    oracle=f"""
    WITH h AS (
      SELECT md5('hll|' || CAST(o_custkey AS VARCHAR)) AS h FROM orders
    ),
    lanes AS (
      SELECT CAST(('0x' || substring(h, 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substring(h, 3, 15)) AS BIGINT) AS x
      FROM h
    ),
    regs AS (
      SELECT bucket,
             MAX(CASE WHEN x = 0 THEN 61 ELSE 61 - length(bin(x)) END) AS r
      FROM lanes GROUP BY bucket
    ),
    s AS (
      SELECT CAST(SUM((CAST(1073741824 AS BIGINT) >> r)) AS BIGINT)
               + ({_HLL_M} - COUNT(*)) * 1073741824 AS s_e30,
             {_HLL_M} - COUNT(*) AS zero_buckets
      FROM regs
    )
    SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_exact,
           ({_HLL_ALPHA_E6} * ({_HLL_K} // greatest(s_e30, 1))) // 1000000
             AS hll_raw_est,
           zero_buckets
    FROM s
    """,
    doc="HyperLogLog with a PORTABLE construction — the answer to 'sketches "
    "are engine-specific': md5-derived buckets/lanes and an all-integer "
    "raw estimate (alpha in e6 fixed point, 2^-r terms as 2^30 >> r, floor "
    "divisions), so the sketch AND its estimate are bit-reproducible in "
    "DuckDB and hash-checked — unlike approx_count_distinct, whose "
    "internal HLL++ differs by engine (that query stays rows-only by "
    "nature). Registers build in one partial+final max aggregation and "
    "merge by max (mergeability pinned in tests); estimate quality "
    "~1.04/sqrt(256) as standard. Output: exact count alongside the "
    "estimate and the zero-register count (the linear-counting trigger).",
    tags=("agg", "sketch", "approx"),
)
def agg_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    regs = hll_registers(o, "o_custkey")
    summary = regs.agg(
        F.expr(
            f"CAST(SUM(shiftright(CAST(1073741824 AS BIGINT), CAST(r AS INT))) AS BIGINT)"
            f" + ({_HLL_M} - COUNT(1)) * 1073741824"
        ).alias("s_e30"),
        F.expr(f"{_HLL_M} - COUNT(1)").alias("zero_buckets"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("n_exact"))
    return exact.crossJoin(summary).selectExpr(
        "n_exact",
        f"({_HLL_ALPHA_E6} * ({_HLL_K} DIV greatest(s_e30, 1L))) DIV 1000000"
        " AS hll_raw_est",
        "zero_buckets",
    )


# --- shared expression text (valid in BOTH Spark SQL and DuckDB) ---------

# exact cents: l_extendedprice carries <=2 decimals; floor(x*100 + 0.5) is
# the portable fixed-point bridge (see q1_pricing_summary in plans/tpch.py).
_CENTS = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"

_N_BUCKETS = 12
_WIDTH_CENTS = 1000000  # 10,000.00 per bucket

# FLOOR(cents / width) via double division is exact here: cents <= ~1.1e7
# has quotient resolution 1/width = 1e-6 units, many orders of magnitude
# above double ulp at that magnitude, and integer quotients <= 2^53 are
# exactly representable — so the correctly-rounded division can never cross
# an integer boundary. (Avoids the engine-specific `div` vs `//` split.)
_BUCKET = (
    f"CAST(LEAST(FLOOR({_CENTS} / {_WIDTH_CENTS}.0), {_N_BUCKETS - 1}) AS INT)"
)


@register(
    "agg_histogram_equiwidth",
    oracle=f"""
    SELECT {_BUCKET} AS bucket,
           CAST({_BUCKET} AS BIGINT) * {_WIDTH_CENTS // 100} AS lo_dollars,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM({_CENTS}) AS BIGINT) AS sum_cents
    FROM lineitem
    GROUP BY 1
    """,
    doc="Equi-width histogram of l_extendedprice (12 buckets of $10k, top "
    "bucket clamps the tail): one map-side-combinable groupBy on a "
    "computed integer bucket — a single shuffle of at most 12 rows per "
    "map partition regardless of input size, the profiling shape used to "
    "plan range partitioning. Bucket math is exact integer fixed-point "
    "(see module docstring for the division-exactness argument), so cnt "
    "AND sum are bit-strict.",
    tags=("agg", "histogram", "profiling"),
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.select(F.expr(_BUCKET).alias("bucket"), F.expr(_CENTS).alias("cents"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            "bucket",
            (F.col("bucket").cast("long") * (_WIDTH_CENTS // 100)).alias("lo_dollars"),
            "cnt",
            "sum_cents",
        )
    )


# --- column profile ------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_discount", "l_returnflag", "l_shipdate")


def _profile_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(MIN({col}) AS VARCHAR) AS min_repr,
           CAST(MAX({col}) AS VARCHAR) AS max_repr
    FROM lineitem
    """


@register(
    "stats_column_profile",
    oracle=" UNION ALL ".join(_profile_sql(c) for c in _PROFILE_COLS),
    doc="Per-column data-quality profile of lineitem (rows, nulls, exact "
    "distinct, min/max rendered as strings so one schema fits numeric and "
    "string columns): the pre-ingest audit shape. ALL columns' metrics "
    "ride ONE scan — the multi-distinct aggregate plans as a single "
    "Expand pass (rows duplicated once per profiled column, which beats "
    "one scan per column by the scan cost at 100 TB) and the 1-row "
    "result is unpivoted to per-column rows with stack(). Distincts are "
    "exact; the cheap variant swaps approx_count_distinct into the same "
    "frame and drops the Expand entirely.",
    tags=("stats", "profiling", "audit"),
)
def stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__null"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_repr, max_repr)",
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_repr", "max_repr")


# --- equi-depth histogram ------------------------------------------------

@register(
    "agg_histogram_equidepth",
    oracle=f"""
    WITH ranked AS (
      SELECT {_CENTS} AS cents,
             NTILE(10) OVER (ORDER BY {_CENTS} ASC, l_orderkey ASC, l_linenumber ASC)
               AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents
    FROM ranked GROUP BY bucket
    """,
    doc="Equi-DEPTH histogram (10 buckets of equal row count) of "
    "l_extendedprice — the quantile-boundary profile range partitioning "
    "and skew diagnosis actually need (equi-width tells you where the "
    "mass is; equi-depth tells you where to CUT). The global rank comes "
    "from the distributed two-pass zipWithIndex (operators/ids.py) — NOT "
    "a single-partition NTILE window — and the bucket arithmetic is the "
    "same exact integer expression as window_ntile; the final per-bucket "
    "agg is one ordinary shuffle. Exact integer cents end to end.",
    tags=("agg", "histogram", "profiling"),
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    li = load_table(spark, "lineitem", sf_dir).select(
        F.expr(_CENTS).alias("cents"), "l_orderkey", "l_linenumber"
    )
    ranked = assign_sequential_ids(
        li,
        order_by=[F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        id_col="__rk",
    )
    n_row = li.agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.join(F.broadcast(n_row))
        .select(
            "cents",
            (
                F.expr(
                    "CASE WHEN __rk < (__n % 10) * (__n div 10 + 1) "
                    "THEN __rk div (__n div 10 + 1) "
                    "ELSE (__n % 10) + (__rk - (__n % 10) * (__n div 10 + 1)) div (__n div 10) END"
                )
                + 1
            )
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("cents").cast("long").alias("lo_cents"),
            F.max("cents").cast("long").alias("hi_cents"),
        )
    )


# --- profile drift between snapshots -------------------------------------


def _slice_profile_sql(pred: str, label: str) -> str:
    return f"""
    SELECT '{label}' AS snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS en_share_e6
    FROM documents WHERE {pred}
    """


@register(
    "stats_profile_drift",
    oracle=f"""
    WITH a AS ({_slice_profile_sql("doc_id % 2 = 0", "base")}),
    b AS ({_slice_profile_sql("doc_id % 2 = 1", "candidate")})
    SELECT a.n_docs AS base_docs, b.n_docs AS cand_docs,
           b.n_docs - a.n_docs AS docs_delta,
           b.total_chars - a.total_chars AS chars_delta,
           b.en_share_e6 - a.en_share_e6 AS en_share_delta_e6,
           (ABS(b.en_share_e6 - a.en_share_e6) > 50000) AS drift_alarm
    FROM a, b
    """,
    doc="Snapshot drift detection: profile two corpus slices (stand-ins "
    "for yesterday's and today's drops) with the same single-pass "
    "metrics, join the two 1-row profiles, and emit deltas plus a "
    "threshold alarm (en-share moving >5% flags an ingestion mix "
    "change). The distribution-shift gate a production pipeline runs "
    "between snapshot publishes; shares are integer fixed-point so the "
    "alarm predicate is bit-deterministic. Each profile is one "
    "partial-aggregable pass; the final join is 1×1.",
    tags=("stats", "profiling", "drift"),
)
def stats_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)

    def prof(pred):
        return d.where(pred).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.expr(
                "(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000) div count(1)"
            ).alias("en_share_e6"),
        )

    a = prof(F.col("doc_id") % 2 == 0).select(
        F.col("n_docs").alias("base_docs"),
        F.col("total_chars").alias("a_chars"),
        F.col("en_share_e6").alias("a_en"),
    )
    b = prof(F.col("doc_id") % 2 == 1).select(
        F.col("n_docs").alias("cand_docs"),
        F.col("total_chars").alias("b_chars"),
        F.col("en_share_e6").alias("b_en"),
    )
    return a.crossJoin(b).select(
        "base_docs",
        "cand_docs",
        (F.col("cand_docs") - F.col("base_docs")).alias("docs_delta"),
        (F.col("b_chars") - F.col("a_chars")).alias("chars_delta"),
        (F.col("b_en") - F.col("a_en")).alias("en_share_delta_e6"),
        (F.abs(F.col("b_en") - F.col("a_en")) > 50000).alias("drift_alarm"),
    )


# --- deterministic exact mode --------------------------------------------


@register(
    "agg_mode_exact",
    oracle="""
    WITH vc AS (
      SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT l_returnflag, v, c,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, v ASC) AS r
      FROM vc
    )
    SELECT l_returnflag,
           v AS mode_quantity,
           CAST(c AS BIGINT) AS mode_count
    FROM ranked WHERE r = 1
    """,
    doc="Exact per-group mode with a DETERMINISTIC tie-break (count desc, "
    "value asc) — the built-in mode() leaves ties implementation-defined, "
    "which fails the bit-reproducibility contract. Two-level aggregation: "
    "(group, value) counts (map-side combinable) then per-group argmax "
    "via max_by over a (count, -value)-ordered struct — no window, no "
    "sort, two shuffles whose second carries one row per (group, value).",
    tags=("agg", "mode"),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    vc = li.groupBy("l_returnflag", F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # argmax by (c desc, v asc): order struct (c, -v) descending via max_by
    return (
        vc.groupBy("l_returnflag")
        .agg(
            F.expr("max_by(v, struct(c, -v))").alias("mode_quantity"),
            F.expr("max(struct(c, -v)).c").cast("long").alias("mode_count"),
        )
    )


# --------------------------------------------------------------------------
# Count-min epsilon-delta certification (r11 VERDICT item 7)
# --------------------------------------------------------------------------
#
# text_countmin_heavy_hitters pins ONE geometry (depth 3 x width 1024);
# the sketch CONTRACT — per key, Pr[overcount > k*N/width] <= k^-depth
# for any k > 1 (per row the expected collision mass is <= N/width, so
# Markov gives Pr[row overcount > k*N/width] <= 1/k; the depth rows use
# independent seeds, so the MIN violates only when every row does) — is
# worth a bound_held row PER geometry so a future hash-family change
# cannot silently degrade it. k = 2 keeps every comparison integer-exact
# (violation iff overcount*width > 2*N — no floats anywhere near the
# hash family), giving delta = 2^-depth; the depth-2 geometry is chosen
# BECAUSE it realizes violations on this corpus (measured 5 of 31 keys
# vs the 7 the bound allows, at sf0.01 AND sf0.1) — a certificate whose
# violation counter is live, not vacuously zero.
_CMB_GEOMETRIES: tuple[tuple[int, int], ...] = ((2, 64), (3, 64), (3, 256), (3, 1024))
_CMB_K = 2


def _cmb_oracle() -> str:
    from slr207_mapreduce_spark.functions.portable import (
        COUNTMIN_SEED0,
        countmin_hash_sql,
    )

    rows = []
    for depth, width in _CMB_GEOMETRIES:
        build = countmin_hash_sql("term", "h.i", width, COUNTMIN_SEED0)
        probe = countmin_hash_sql("t.term", "h.i", width, COUNTMIN_SEED0)
        rows.append(f"""
    SELECT 'countmin:d{depth}w{width}' AS estimator,
           CAST(SUM(CASE WHEN (est - cnt) * {width} > {_CMB_K} * (SELECT n FROM tot)
                         THEN 1 ELSE 0 END) AS DOUBLE) AS exact_value,
           CAST(1.0 AS DOUBLE) / {_CMB_K ** depth} AS bound,
           SUM(CASE WHEN (est - cnt) * {width} > {_CMB_K} * (SELECT n FROM tot)
                    THEN 1 ELSE 0 END) * {_CMB_K ** depth}
             <= (SELECT keys FROM tot) AS bound_held
    FROM (
      SELECT t.term, t.cnt, MIN(c.c) AS est
      FROM counts t, (SELECT UNNEST(range({depth})) AS i) h,
           (SELECT h.i AS h, {build} AS b, SUM(cnt) AS c
            FROM counts, (SELECT UNNEST(range({depth})) AS i) h
            GROUP BY 1, 2) c
      WHERE c.h = h.i AND c.b = {probe}
      GROUP BY t.term, t.cnt
    )""")
        # noqa: E501
    union = "\n    UNION ALL".join(rows)
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    counts AS (
      SELECT term, COUNT(*) AS cnt FROM toks WHERE length(term) > 0 GROUP BY term
    ),
    tot AS (SELECT SUM(cnt) AS n, COUNT(*) AS keys FROM counts)
    {union}
    """


@register(
    "estimator_countmin_bounds",
    oracle=_cmb_oracle(),
    doc="Count-min epsilon-delta certification at FOUR geometries (depths "
    "2-3 x widths 64/256/1024) over the document term counts: every "
    "distinct term is probed back through each sketch and the row "
    "reports how many violated the Markov bound overcount <= 2*N/width, "
    "with bound_held asserting the violating fraction <= 2^-depth. The "
    "depth-2 row realizes violations on this corpus (5 of 31 keys vs "
    "the 7 allowed) so the counter is live, not vacuously zero. All "
    "comparisons are integer (overcount*width vs 2*N), so the whole "
    "certificate — sketch, probes, violations — is exact on both "
    "engines; a hash-family or seed change that degrades the sketch "
    "becomes a driver hash mismatch, the estimator_error_report pattern "
    "applied to the one estimator whose internals ARE reproducible.",
    tags=("audit", "approx", "text", "sketch"),
)
def estimator_countmin_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.functions.portable import (
        COUNTMIN_SEED0,
        countmin_hash_rows,
    )

    d = load_table(spark, "documents", sf_dir)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = counts.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("keys")
    )

    out = None
    for depth, width in _CMB_GEOMETRIES:
        hash_rows = countmin_hash_rows(
            F.col("term"), depth=depth, width=width, seed0=COUNTMIN_SEED0
        )
        cm = (
            counts.select(F.explode(hash_rows).alias("hb"), "cnt")
            .groupBy(F.col("hb.h").alias("h"), F.col("hb.b").alias("b"))
            .agg(F.sum("cnt").alias("c"))
        )
        est = (
            counts.select("term", "cnt", F.explode(hash_rows).alias("hb"))
            .join(
                F.broadcast(cm),
                (F.col("hb.h") == F.col("h")) & (F.col("hb.b") == F.col("b")),
            )
            .groupBy("term", "cnt")
            .agg(F.min("c").alias("est"))
        )
        viol = (F.col("est") - F.col("cnt")) * F.lit(width) > F.lit(_CMB_K) * F.col("n")
        row = (
            est.crossJoin(F.broadcast(tot))
            .agg(
                F.sum(F.when(viol, 1).otherwise(0)).alias("violations"),
                F.first("keys").alias("keys"),
            )
            .select(
                F.lit(f"countmin:d{depth}w{width}").alias("estimator"),
                F.col("violations").cast("double").alias("exact_value"),
                (F.lit(1.0) / F.lit(_CMB_K ** depth)).alias("bound"),
                (F.col("violations") * F.lit(_CMB_K ** depth) <= F.col("keys")).alias(
                    "bound_held"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


_ACD_RSD = 0.02
_ACD_BOUND = 0.06  # 3 * rsd
_HLL_BOUND = 0.02
_PCT_ACCURACY = 10000
_PCT_BOUND = 0.0001  # 1 / accuracy, as a rank fraction
_PCTS = (0.5, 0.9, 0.99)
_PCT_NAMES = ("p50", "p90", "p99")
_MH_J = 0.5  # exact-Jaccard threshold whose pairs MinHashLSH must all find
_MH_DIST = 0.6  # dedup_minhash_ml's registered jaccard-distance threshold


def _oracle() -> str:
    pnames = ", ".join(f"('{n}')" for n in _PCT_NAMES)
    return f"""
    SELECT 'approx_count_distinct:' || o_orderpriority AS estimator,
           CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS exact_value,
           CAST({_ACD_BOUND} AS DOUBLE) AS bound,
           TRUE AS bound_held
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'hll_sketch:' || lang,
           CAST(COUNT(DISTINCT source) AS DOUBLE),
           CAST({_HLL_BOUND} AS DOUBLE), TRUE
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'hll_sketch:__merged',
           CAST(COUNT(DISTINCT source) AS DOUBLE),
           CAST({_HLL_BOUND} AS DOUBLE), TRUE
    FROM documents
    UNION ALL
    SELECT 'approx_percentile:' || pname || ':' || event_type,
           CAST(COUNT(*) AS DOUBLE),
           CAST({_PCT_BOUND} AS DOUBLE), TRUE
    FROM events CROSS JOIN (VALUES {pnames}) AS t(pname)
    GROUP BY event_type, pname
    UNION ALL
    SELECT 'minhash_ml_recall:j>={_MH_J}',
           CAST(COUNT(*) AS DOUBLE),
           CAST(0.0 AS DOUBLE), TRUE
    FROM ({ngram_jaccard_sql(_MH_J)})
    """


@register(
    "estimator_error_report",
    oracle=_oracle(),
    doc="Error-bound certification for the four rows-only estimators "
    "(approx_count_distinct, HLL sketch merge, approx percentiles, MLlib "
    "MinHash): one row per bound with the exact reference quantity and a "
    "bound_held boolean Spark evaluates against the live estimate while "
    "the oracle asserts the contract — the knn_recall_report pattern, "
    "making each estimator's accuracy driver-hash-checkable even though "
    "its sketch bytes are engine-specific.",
    tags=("audit", "approx"),
)
def estimator_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    d = load_table(spark, "documents", sf_dir)
    e = load_table(spark, "events", sf_dir)

    acd = (
        o.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=_ACD_RSD).alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .select(
            F.concat(F.lit("approx_count_distinct:"), F.col("o_orderpriority")).alias(
                "estimator"
            ),
            F.col("exact").cast("double").alias("exact_value"),
            F.lit(_ACD_BOUND).alias("bound"),
            (
                F.abs(F.col("approx") - F.col("exact")) / F.col("exact")
                <= F.lit(_ACD_BOUND)
            ).alias("bound_held"),
        )
    )

    per_lang = d.groupBy("lang").agg(
        F.hll_sketch_agg("source").alias("sk"),
        F.countDistinct("source").alias("exact"),
    )
    hll_lang = per_lang.select(
        F.concat(F.lit("hll_sketch:"), F.col("lang")).alias("estimator"),
        F.col("exact").cast("double").alias("exact_value"),
        F.lit(_HLL_BOUND).alias("bound"),
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact")) / F.col("exact")
            <= F.lit(_HLL_BOUND)
        ).alias("bound_held"),
    )
    # Merged estimate (union of per-lang sketch bytes — no rescan) vs the
    # exact global distinct; both sides are 1-row frames, so the join is a
    # shape-proved single-row cross.
    hll_merged = (
        per_lang.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .crossJoin(d.agg(F.countDistinct("source").alias("exact")))
        .select(
            F.lit("hll_sketch:__merged").alias("estimator"),
            F.col("exact").cast("double").alias("exact_value"),
            F.lit(_HLL_BOUND).alias("bound"),
            (
                F.abs(F.col("est") - F.col("exact")) / F.col("exact")
                <= F.lit(_HLL_BOUND)
            ).alias("bound_held"),
        )
    )

    pct = e.groupBy("event_type").agg(
        F.percentile_approx("value", list(_PCTS), _PCT_ACCURACY).alias("p"),
        F.count(F.lit(1)).alias("n"),
    )
    p_arr = F.array(*[F.lit(x) for x in _PCTS])
    n_arr = F.array(*[F.lit(x) for x in _PCT_NAMES])
    ex = pct.select(
        "event_type",
        "n",
        F.posexplode("p").alias("i", "v"),
    ).select(
        "event_type",
        "n",
        "v",
        F.element_at(p_arr, F.col("i") + 1).alias("pct"),
        F.element_at(n_arr, F.col("i") + 1).alias("pname"),
    )
    # Exact rank interval of the returned value v: [rlo + 1, rhi]. The GK
    # guarantee holds iff that interval comes within n/accuracy (+1 for
    # the discrete target) of the target rank pct*n.
    ranks = (
        e.select("event_type", "value")
        .join(F.broadcast(ex), "event_type")
        .groupBy("event_type", "pname", "pct", "n", "v")
        .agg(
            F.sum(F.when(F.col("value") < F.col("v"), 1).otherwise(0)).alias("rlo"),
            F.sum(F.when(F.col("value") <= F.col("v"), 1).otherwise(0)).alias("rhi"),
        )
    )
    tol = F.col("n") / F.lit(_PCT_ACCURACY) + F.lit(1.0)
    target = F.col("pct") * F.col("n")
    pct_rows = ranks.select(
        F.concat(
            F.lit("approx_percentile:"), F.col("pname"), F.lit(":"), F.col("event_type")
        ).alias("estimator"),
        F.col("n").cast("double").alias("exact_value"),
        F.lit(_PCT_BOUND).alias("bound"),
        (
            ((F.col("rlo") + 1) <= target + tol) & (F.col("rhi") >= target - tol)
        ).alias("bound_held"),
    )

    exact_pairs = ngram_jaccard_pairs(d, threshold=_MH_J).select("doc_a", "doc_b")
    ml_pairs = minhash_neardup_pairs_ml(
        d, jaccard_distance_threshold=_MH_DIST
    ).select("doc_a", "doc_b")
    hits = exact_pairs.join(ml_pairs, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("hits")
    )
    total = exact_pairs.agg(F.count(F.lit(1)).alias("total"))
    mh_row = total.crossJoin(hits).select(
        F.lit(f"minhash_ml_recall:j>={_MH_J}").alias("estimator"),
        F.col("total").cast("double").alias("exact_value"),
        F.lit(0.0).alias("bound"),
        (F.col("hits") == F.col("total")).alias("bound_held"),
    )

    return (
        acd.unionByName(hll_lang)
        .unionByName(hll_merged)
        .unionByName(pct_rows)
        .unionByName(mh_row)
    )


@register(
    "stat_crosstab",
    # Column names contain spaces/dashes — quoted aliases on the oracle side
    # must match Spark's crosstab output exactly (value strings as names).
    oracle="""
    SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS "1-URGENT",
           CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS "2-HIGH",
           CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS "3-MEDIUM",
           CAST(count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS "4-NOT SPECIFIED",
           CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS "5-LOW"
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="df.stat.crosstab: the contingency-table helper (pair frequencies "
    "pivoted to a matrix). Plans to one groupBy over both keys + a pivot "
    "— a single shuffle; the oracle is the equivalent FILTER-pivot. The "
    "df.stat family's deterministic member — freqItems/sampleBy are "
    "sketch/random-based and live outside the exact gate (the seeded "
    "hash samplers in pipeline_queries are this engine's deterministic "
    "sampling path).",
    tags=("agg", "stat"),
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    ct = o.stat.crosstab("o_orderstatus", "o_orderpriority")
    # crosstab counts come back as long already; column order normalized by
    # the harness (name-sorted), so only names must match the oracle.
    return ct

