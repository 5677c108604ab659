"""TPC-H query shapes Q1-Q22 (``q<N>_*``) over the TPC-H-ish star schema:
the relational core of SURVEY.md §2.1 (scans, projection/filter, multi-way
equi-joins, aggregation, sort/limit/top-K), adapted to the testdata's
actual columns/ranges (FIXTURES.md §B).

These are MapReduce-derivable (the reference's primitives — map O5-O7,
shuffle O8, reduce O9, sort/limit O11-O12 — compose into each query per the
standard "relational algebra as MapReduce" constructions), expressed as the
Catalyst plans you'd want at 100 TB:

- Dimension joins (region/nation/customer/supplier/part) broadcast — no
  shuffle of the fact table on those keys.
- Aggregations do map-side partial agg automatically (the reference's
  biggest missing optimization — it sends one message per token occurrence,
  WorkerSender.java:230).
- Top-K compiles to TakeOrderedAndProject (no global sort materialization).
- All money arithmetic is exact DECIMAL internally, cast to DOUBLE at the
  boundary, so results are bit-stable for the oracle hash regardless of
  partitioning / summation order.

The testdata schema is a trimmed TPC-H (no partsupp, no
commit/receipt dates, no comment columns), so the queries that depend on
those columns are *adapted*: each keeps the original's plan shape — the
decorrelation pattern, join graph, and aggregation structure the optimizer
has to handle — with a predicate rewritten onto available columns. The
adaptation is noted per query.

Numeric portability follows functions/portable.py: money sums go through
DECIMAL(12,2), quantity aggregates are exact because l_quantity is integral
(1..50, verified in testdata), and every scalar threshold is derived from an
exact sum before the single final cast to DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import davg_sql, dec, dsum_sql
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table, table_view


# Build-latency note (r15, guide §1): q1, q3, q5, q6 and q10 are assembled as
# ONE spark.sql() text over cached temp views (sources/tables.table_view)
# instead of chained DataFrame ops — every DataFrame op is eagerly
# analyzed, and the chained forms paid 0.12-0.48 s of pure analyzer/py4j
# time per build at sf0.1 (measured; the bench times build+execute, and
# build was 30-50% of these queries' walls). The SQL texts reproduce the
# previous logical plans operator-for-operator — same filters, join order,
# broadcast hints, fixed-point arithmetic and aliases — so the physical
# plans and results are unchanged (oracle exact-value checked at sf0.01
# and sf0.1; plan shapes pinned by tests/test_plans.py).


# --------------------------------------------------------------------------
# q1: pricing summary report (TPC-H Q1 shape) — filter + wide aggregation.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {dsum_sql('l_quantity')} AS sum_qty,
      {dsum_sql('l_extendedprice')} AS sum_base_price,
      CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE)
        / 10000.0 AS sum_disc_price,
      CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
               * (100 + CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT))) AS DOUBLE)
        / 1000000.0 AS sum_charge,
      {davg_sql('l_quantity')} AS avg_qty,
      {davg_sql('l_extendedprice')} AS avg_price,
      {davg_sql('l_discount')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Filter + grouped aggregation (reference O7+O9 generalized to the "
    "full agg monoid family, SURVEY.md §2.1). Executed as HIERARCHICAL "
    "exact aggregation: per-scan-partition partial sums in int64 "
    "fixed-point (2.8x cheaper per row than DECIMAL; overflow-safe because "
    "maxPartitionBytes bounds rows per task — ~2e6 rows x 1e11-unit charge "
    "products stay 40x under int64 max), then a DECIMAL(38,0) merge of the "
    "few-thousand partials and one exact division per output. Bit-identical "
    "to the all-DECIMAL oracle at ~1.7x its speed (measured sf0.1), at any "
    "parallelism — see SCALE.md 'Exactness vs speed'.",
    tags=("relational", "agg", "bench"),
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table_view(spark, "lineitem", sf_dir)
    # u(col): FLOOR(col*100 + 0.5D) — the int64 fixed-point view of a
    # <=2-decimal double column (0.5D: a double literal; a bare 0.5 would
    # be DECIMAL(1,1)). x * 10^d on a value exactly representable with d
    # decimals lands within 1e-9 of an integer, so every rounding mode
    # agrees; floor(x·10^d + 0.5) picks the same integer for any sign under
    # that contract. floor is a raw codegen intrinsic while round() routes
    # through BigDecimal HALF_UP per row — the swap cut the q1 partial pass
    # 0.47 → 0.27 s at sf0.1 with bit-identical sums. Still ~2.8x cheaper
    # than a DECIMAL cast per row.
    u = lambda c: f"FLOOR({c} * 100 + 0.5D)"  # noqa: E731
    gross_u4 = f"{u('l_extendedprice')} * (100 - {u('l_discount')})"
    charge_u6 = f"{gross_u4} * (100 + {u('l_tax')})"
    # HIERARCHICAL exact aggregation: `part` sums int64 fixed-point per
    # scan partition — overflow-safe because a 128 MB scan partition bounds
    # rows per task at ~2e6, keeping partials under ~2e17 even for
    # 1e11-unit charge products — then `tot` merges the few partials in
    # DECIMAL(38,0), which cannot overflow.
    # The final CAST(t AS DOUBLE) / 10^d casts the exact integer FIRST,
    # then divides by a double literal. While the unscaled value stays
    # under 2^53 this is bit-identical to divide-then-cast (both operands
    # exact → one correctly-rounded IEEE division). Once the unscaled sum
    # passes 2^53 (first seen at sf1: sum_charge unscaled ≈ 4.4e16),
    # divide-then-cast hits DuckDB's two-step DECIMAL→DOUBLE rounding and
    # drifts 1 ulp from Spark's BigDecimal cast — cast-the-integer-first is
    # the one sequence both engines execute identically at every scale
    # (int→double is correctly rounded in both; the oracle's sum_charge
    # mirrors it).
    return spark.sql(f"""
        WITH part AS (
          SELECT l_returnflag, l_linestatus,
                 SUM({u('l_quantity')})      AS sq,
                 SUM({u('l_extendedprice')}) AS sp,
                 SUM({u('l_discount')})      AS sd,
                 SUM({gross_u4})             AS sg,
                 SUM({charge_u6})            AS sc,
                 COUNT(1)                    AS n
          FROM {l}
          WHERE l_shipdate <= TIMESTAMP'2000-09-02'
          GROUP BY l_returnflag, l_linestatus, spark_partition_id()
        ),
        tot AS (
          SELECT l_returnflag, l_linestatus,
                 SUM(CAST(sq AS DECIMAL(38,0))) AS tq,
                 SUM(CAST(sp AS DECIMAL(38,0))) AS tp,
                 SUM(CAST(sd AS DECIMAL(38,0))) AS td,
                 SUM(CAST(sg AS DECIMAL(38,0))) AS tg,
                 SUM(CAST(sc AS DECIMAL(38,0))) AS tc,
                 SUM(n) AS count_order
          FROM part GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               CAST(tq AS DOUBLE) / 100.0D     AS sum_qty,
               CAST(tp AS DOUBLE) / 100.0D     AS sum_base_price,
               CAST(tg AS DOUBLE) / 10000.0D   AS sum_disc_price,
               CAST(tc AS DOUBLE) / 1000000.0D AS sum_charge,
               (CAST(tq AS DOUBLE) / 100.0D) / CAST(count_order AS DOUBLE) AS avg_qty,
               (CAST(tp AS DOUBLE) / 100.0D) / CAST(count_order AS DOUBLE) AS avg_price,
               (CAST(td AS DOUBLE) / 100.0D) / CAST(count_order AS DOUBLE) AS avg_disc,
               count_order
        FROM tot
        ORDER BY l_returnflag, l_linestatus
    """)


# --------------------------------------------------------------------------
# q3: shipping priority (TPC-H Q3 shape) — 3-way join + agg + top-N.
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="Customer⋈orders⋈lineitem with selective filters + grouped revenue + "
    "top-10. Customer side broadcasts; Catalyst pushes both date filters to "
    "the parquet scans.",
    tags=("relational", "join", "bench"),
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table_view(spark, "lineitem", sf_dir)
    o = table_view(spark, "orders", sf_dir)
    c = table_view(spark, "customer", sf_dir)
    return spark.sql(f"""
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM {l}
        JOIN {o} ON l_orderkey = o_orderkey
        JOIN {c} ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP'1998-01-01'
          AND l_shipdate  > TIMESTAMP'1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """)


# --------------------------------------------------------------------------
# q5: local supplier volume (TPC-H Q5 shape) — 6-way join through the whole
# key chain region→nation→{customer,supplier}→orders→lineitem.
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT
      n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    doc="Full star-chain 6-way join, SELECTIVE-FILTER-FIRST: the "
    "region→nation→supplier chain is pre-joined (all broadcasts) into the "
    "ASIA supplier set, and lineitem is semi-filtered by that broadcast "
    "BEFORE the fact-fact orders shuffle — the one join Catalyst cannot "
    "reorder on its own because the c_nationkey = s_nationkey condition "
    "ties the supplier join to customer (moving that predicate to the "
    "customer join is result-identical and frees the reorder). Cuts the "
    "shuffled lineitem rows ~5x (one region of five): measured 0.84s → "
    "0.50s at sf0.1; at 100 TB it is the difference between shuffling the "
    "corpus and shuffling one region's slice.",
    tags=("relational", "join", "bench"),
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table_view(spark, "lineitem", sf_dir)
    o = table_view(spark, "orders", sf_dir)
    c = table_view(spark, "customer", sf_dir)
    s = table_view(spark, "supplier", sf_dir)
    n = table_view(spark, "nation", sf_dir)
    r = table_view(spark, "region", sf_dir)
    # Same join tree and broadcast hints as the previous DataFrame form:
    # the ASIA supplier chain pre-joins (all broadcasts) and semi-filters
    # lineitem BEFORE the fact-fact orders join — see the register() doc.
    return spark.sql(f"""
        WITH s_asia AS (
          SELECT /*+ BROADCAST(n), BROADCAST(r) */ s_suppkey, s_nationkey, n_name
          FROM {s} JOIN {n} n ON s_nationkey = n_nationkey
                   JOIN {r} r ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
        )
        SELECT /*+ BROADCAST(s_asia) */ n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM {l}
        JOIN s_asia ON l_suppkey = s_suppkey
        JOIN {o} ON l_orderkey = o_orderkey
        JOIN {c} ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        WHERE o_orderdate >= TIMESTAMP'1996-01-01'
          AND o_orderdate <  TIMESTAMP'1999-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
    """)


# --------------------------------------------------------------------------
# q6: forecast revenue change (TPC-H Q6 shape) — pure scan+filter+agg;
# the predicate-pushdown showcase.
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Selective conjunctive filter + global agg. All four predicates reach "
    "the parquet scan as PushedFilters; no shuffle at all (single global agg).",
    tags=("relational", "filter", "bench"),
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table_view(spark, "lineitem", sf_dir)
    # 0.05D/0.07D: double literals matching the DataFrame form's python
    # floats (a bare 0.05 would be a DECIMAL(3,2) literal and change the
    # pushed-filter type).
    return spark.sql(f"""
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               COUNT(1) AS n_rows
        FROM {l}
        WHERE l_shipdate >= TIMESTAMP'1997-01-01'
          AND l_shipdate <  TIMESTAMP'1998-01-01'
          AND l_discount >= 0.05D AND l_discount <= 0.07D
          AND l_quantity < 24
    """)


# --------------------------------------------------------------------------
# q10: returned-item reporting (TPC-H Q10 shape) — join + agg + top-N with
# wide group-by key.
# --------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle="""
    SELECT
      c_custkey,
      c_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      CAST(c_acctbal AS DOUBLE) AS c_acctbal,
      n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="Revenue lost to returns per customer; broadcast dims, top-20 via "
    "TakeOrderedAndProject.",
    tags=("relational", "join"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table_view(spark, "lineitem", sf_dir)
    o = table_view(spark, "orders", sf_dir)
    c = table_view(spark, "customer", sf_dir)
    n = table_view(spark, "nation", sf_dir)
    return spark.sql(f"""
        SELECT /*+ BROADCAST(n) */ c_custkey, c_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
               CAST(c_acctbal AS DOUBLE) AS c_acctbal,
               n_name
        FROM {l}
        JOIN {o} ON l_orderkey = o_orderkey
        JOIN {c} ON o_custkey = c_custkey
        JOIN {n} n ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP'1997-01-01'
          AND o_orderdate <  TIMESTAMP'1998-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """)


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(24,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: bilateral trade volume between two nations by year "
    "— double nation-dim join with an inequality predicate.",
    tags=("relational", "join"),
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    both = ["NATION_1", "NATION_2"]
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(
            F.col("supp_nation").isin(both)
            & F.col("cust_nation").isin(both)
            & (F.col("supp_nation") != F.col("cust_nation"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(vol.cast("decimal(24,4)")).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shape: conditional counting after a fact-fact join.",
    tags=("relational", "join", "agg"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT
      CAST(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
            THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
            ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-07-01'
    """,
    doc="TPC-H Q14 shape: share-of-total with conditional numerator "
    "(broadcast part dim; both decimal sums exact → stable division).",
    tags=("relational", "join", "agg"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    p = load_table(spark, "part", sf_dir)
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).cast("double").alias("promo_revenue_pct")
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs join predicate — the optimizer must "
    "keep the join equi (on partkey) and evaluate the disjunction as a "
    "post-join filter.",
    tags=("relational", "join", "filter"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(clause)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q4_order_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS (orders with at least one "
    "late-shipping lineitem) → left-semi join after de-correlation.",
    tags=("relational", "subquery"),
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    l = load_table(spark, "lineitem", sf_dir)
    late = l.join(o, l.l_orderkey == o.o_orderkey).where(
        F.col("l_shipdate") > F.col("o_orderdate")
    ).select("l_orderkey").distinct()
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: derived revenue relation reused twice (join + "
    "max scalar subquery) — argmax-of-aggregate via equality with the "
    "scalar max, not a sort.",
    tags=("relational", "subquery", "cte"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    s = load_table(spark, "supplier", sf_dir)
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).cast("double").alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c_custkey % 7 AS BIGINT) AS cust_group,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    GROUP BY c_custkey % 7
    ORDER BY cust_group
    """,
    doc="TPC-H Q22 shape: scalar-average filter + NOT EXISTS anti-join "
    "(above-average-balance customers with no pending order), grouped by a "
    "derived key. (The original no-orders-at-all predicate is empty on this "
    "dense testdata — every customer has ordered — so the anti-join is "
    "scoped to pending status to keep the query non-vacuous.)",
    tags=("relational", "subquery", "antijoin"),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(dec("c_acctbal")).cast("double")
                / F.count("c_acctbal").cast("double")
            ).alias("a")
        )
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("a")).drop("a")
    pending = o.where(F.col("o_orderstatus") == "P")
    never_ordered = rich.join(pending, rich.c_custkey == pending.o_custkey, "left_anti")
    return (
        never_ordered.groupBy((F.col("c_custkey") % 7).cast("long").alias("cust_group"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("cust_group")
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: distinct-count per wide group with NOT/IN filters.",
    tags=("relational", "agg"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_DISTINCT_PART_SUPP = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS ({_DISTINCT_PART_SUPP})
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, supplier, ps, nation, region
    WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
      AND p_size = 15 AND p_type = 'STANDARD'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_acctbal = (
        SELECT max(s2.s_acctbal)
        FROM supplier s2, ps ps2, nation n2, region r2
        WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
          AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    doc="TPC-H Q2 shape: correlated argmax subquery — for each qualifying "
    "part, the best European supplier of it. Adapted: no partsupp table, so "
    "the part↔supplier relation is the distinct (l_partkey, l_suppkey) "
    "pairs observed in lineitem, and 'best' is max s_acctbal instead of min "
    "ps_supplycost (a raw column, so the equality-with-aggregate compare is "
    "exact). Decorrelated into a per-part max + join-back, which at scale "
    "beats a window over the fact join (the groupBy reduces before the "
    "join).",
    tags=("relational", "subquery", "join"),
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "EUROPE")
    ps = (
        load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey").distinct()
    )
    euro_supp = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey).join(
        euro_supp, ps.l_suppkey == F.col("s_suppkey")
    )
    best = offers.groupBy(F.col("p_partkey").alias("bp_key")).agg(
        F.max("s_acctbal").alias("best_bal")
    )
    return (
        offers.join(
            best,
            (offers.p_partkey == F.col("bp_key"))
            & (offers.s_acctbal == F.col("best_bal")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(24,4)) END) AS DOUBLE)
              / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(24,4)) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape: national market share — an 8-way join (two roles "
    "for nation) feeding a conditional-numerator share per year. Both sums "
    "stay DECIMAL until the final division. All five dims broadcast; the "
    "only shuffles are the two fact-fact joins and the final year group.",
    tags=("relational", "join", "agg"),
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).where(F.col("p_type") == "ECONOMY")
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n1 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "AMERICA")
    volume = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(24,4)"
    )
    nation_share = F.when(
        F.col("supp_nation") == "NATION_3", F.col("volume")
    ).otherwise(F.lit(0).cast("decimal(24,4)"))
    return (
        l.join(F.broadcast(part), l.l_partkey == part.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(nation_share).cast("double") / F.sum("volume").cast("double")
            ).cast("double").alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation, o_year,
           CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(24,4))
             - CAST(CAST(p_retailprice AS DECIMAL(12,2))
                    * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(24,4)) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape: product-type profit by nation and year. Adapted: "
    "no partsupp, so line cost is p_retailprice * l_quantity instead of "
    "ps_supplycost * l_quantity — same expression tree (revenue minus a "
    "part-attributed cost), fully DECIMAL until the final cast.",
    tags=("relational", "join", "agg"),
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).where(F.col("p_name").like("%red%"))
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    revenue = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(24,4)"
    )
    cost = (dec("p_retailprice") * F.col("l_quantity").cast("decimal(12,2)")).cast(
        "decimal(24,4)"
    )
    return (
        l.join(F.broadcast(part), l.l_partkey == part.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            (revenue - cost).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_part_value",
    oracle="""
    SELECT l_partkey AS part_key,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_5', 'NATION_8')
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) > (
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * 1.5
             / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_5', 'NATION_8'))
    ORDER BY value DESC, part_key
    """,
    doc="TPC-H Q11 shape: per-part value for a nation group's suppliers, "
    "kept only when above a threshold derived from the group's total — "
    "HAVING against a global scalar subquery. Adapted: value is summed "
    "lineitem revenue instead of partsupp stock value, and the threshold "
    "is 1.5x the mean per-part value (the original's fixed 0.0001 fraction "
    "is scale-DEPENDENT: it empties as part count grows). Both the group "
    "sums and the scalar total are exact DECIMAL sums; the scalar does its "
    "two double ops once, so the compare is deterministic double vs "
    "double.",
    tags=("relational", "subquery", "agg"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).where(
        F.col("n_name").isin("NATION_3", "NATION_5", "NATION_8")
    )
    nat_lines = l.join(
        F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
        l.l_suppkey == F.col("s_suppkey"),
    )
    per_part = nat_lines.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("value")
    )
    threshold = nat_lines.agg(
        (
            F.sum(dec("l_extendedprice")).cast("double")
            * F.lit(1.5)
            / F.countDistinct("l_partkey").cast("double")
        ).alias("thr")
    )
    return (
        per_part.join(F.broadcast(threshold), F.col("value") > F.col("thr"))
        .select("part_key", "value")
        .orderBy(F.desc("value"), "part_key")
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: two-level aggregation over an outer join — "
    "orders-per-customer histogram where customers with zero qualifying "
    "orders must survive (COUNT of a nullable key, not COUNT(*)). Adapted: "
    "the o_comment NOT LIKE filter becomes an o_orderpriority filter (no "
    "comment column). The join-condition filter (not a WHERE) is the point: "
    "it must not turn the outer join inner.",
    tags=("relational", "join", "agg"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 10
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17 shape: rows below a correlated per-part average — "
    "decorrelated into a per-part avg + join-back filter. Adapted filter: "
    "p_brand + p_size (no container column). The threshold compare is "
    "exact: l_quantity is integral so its double sum (and hence avg) is "
    "exact, and 0.2*avg is one deterministic double op on both engines.",
    tags=("relational", "subquery", "agg"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10)
    )
    l = load_table(spark, "lineitem", sf_dir)
    li = l.join(F.broadcast(part), l.l_partkey == part.p_partkey)
    avg_qty = li.groupBy(F.col("l_partkey").alias("aq_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr")
    )
    return (
        li.join(
            F.broadcast(avg_qty),
            (li.l_partkey == F.col("aq_key"))
            & (li.l_quantity < F.col("qty_thr")),
        )
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: large-volume customers — IN over a grouped HAVING "
    "subquery (orders whose total quantity exceeds a threshold), re-joined "
    "to customer/orders and re-aggregated, top-100. The IN becomes a "
    "left-semi join against the filtered aggregate; o_orderkey in the sort "
    "makes the limit deterministic. sum(l_quantity) is exact (integral "
    "doubles).",
    tags=("relational", "subquery", "join", "topk"),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 250)
        .select(F.col("l_orderkey").alias("big_key"))
    )
    return (
        l.join(big, l.l_orderkey == F.col("big_key"), "left_semi")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "q20_potential_promotion",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_7', 'NATION_12', 'NATION_21')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 100)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape: nested IN chain — suppliers (in a nation set) who "
    "moved a meaningful volume of the target parts in a year. Adapted: the "
    "partsupp availqty threshold becomes a shipped-quantity HAVING over "
    "lineitem; 'forest%' part-name prefix becomes 'small%'. Both INs become "
    "left-semi joins; the part filter is broadcast into the lineitem scan.",
    tags=("relational", "subquery", "join"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).where(
        F.col("n_name").isin("NATION_7", "NATION_12", "NATION_21")
    )
    part = load_table(spark, "part", sf_dir).where(F.col("p_name").like("small%"))
    l = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    movers = (
        l.join(
            F.broadcast(part.select("p_partkey")),
            l.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "q21_suppliers_kept_waiting",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape: suppliers who were the SOLE late supplier on a "
    "multi-supplier order — correlated EXISTS + NOT EXISTS over the same "
    "fact. Adapted: 'late' is l_shipdate > o_orderdate + 60 days (no "
    "commit/receipt dates). Decorrelated set-style: the NOT EXISTS becomes "
    "'the order's distinct late-supplier count is 1' (the outer row is "
    "itself late, so it is that one), and the EXISTS becomes a semi-join "
    "against orders with ≥2 distinct suppliers. Every shuffle keys on "
    "l_orderkey, so AQE can reuse the exchange.",
    tags=("relational", "subquery", "join", "topk"),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir).where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5")
    )
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "F")
    late = l.join(o, l.l_orderkey == o.o_orderkey).where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    late_supp_cnt = (
        late.select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy(F.col("l_orderkey").alias("lc_key"))
        .agg(F.count(F.lit(1)).alias("n_late"))
    )
    multi_supp = (
        l.select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy(F.col("l_orderkey").alias("ms_key"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .where(F.col("n_supp") >= 2)
        .select("ms_key")
    )
    return (
        late.join(
            late_supp_cnt,
            (late.l_orderkey == F.col("lc_key")) & (F.col("n_late") == 1),
        )
        .join(multi_supp, late.l_orderkey == F.col("ms_key"), "left_semi")
        .join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            late.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )

