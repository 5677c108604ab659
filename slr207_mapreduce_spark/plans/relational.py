"""Relational glue queries: joins (``join_*``), set operators (``setop_*``),
subqueries and CTEs (``subq_*``), pivot/unpivot (``pivot_*``,
``unpivot_*``) and as-of joins (``asof_*``) — SURVEY.md §2.1 "Equi-join"
and "Set ops" rows and the relational closure's glue shapes.

MapReduce derivation: a join maps records tagged by source relation,
shuffles on the join key (reference O8) and merges the per-key groups in the
reduce (reference O9) — the classic repartition join. In Spark each variant
is a declarative ``df.join(...)``; Catalyst picks broadcast-hash /
shuffled-hash / sort-merge (AQE can demote to broadcast at runtime), which
is exactly what we want at 100 TB: the dimension sides here are broadcast so
the fact table is never shuffled for the join itself. Set operators shuffle
on the whole row (O8 with the full record as key) and keep rows per the
op's membership rule (O9); distinct-flavored ones are one hash aggregation
on the row. Catalyst de-correlates subqueries into joins+aggs — exactly the
MapReduce compositions the reference's primitives derive.

NOT IN (subquery) is planned as a NULL-AWARE anti join, a different
physical operator from NOT EXISTS' plain anti join: one NULL in the
subquery empties the result under three-valued logic. The backward as-of
joins use DuckDB's native ASOF JOIN as the oracle; the engine side is the
scalable union+carry-forward composition (operators/asof.py: one shuffle,
no range explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import dec
from slr207_mapreduce_spark.operators.asof import asof_join
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, n_name
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
    """,
    doc="Inner equi-join chain orders→customer→nation (broadcast dims).",
    tags=("join",),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "F")
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "o_totalprice", "c_name", "n_name")
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus = 'P'
    """,
    doc="Left outer join with a join-side predicate (NULL-extends customers "
    "with no pending orders).",
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return c.join(
        o, (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P"), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "join_right_outer",
    oracle="""
    SELECT s_suppkey, s_name, l_orderkey, l_linenumber
    FROM lineitem
    RIGHT JOIN supplier ON l_suppkey = s_suppkey AND l_returnflag = 'R'
    """,
    doc="Right outer join (suppliers kept even with no returned lineitems).",
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    return l.join(
        s, (l.l_suppkey == s.s_suppkey) & (l.l_returnflag == "R"), "right"
    ).select("s_suppkey", "s_name", "l_orderkey", "l_linenumber")


@register(
    "join_full_outer",
    oracle="""
    WITH big_cust AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000),
         big_ord  AS (SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
                      FROM orders GROUP BY o_custkey HAVING SUM(CAST(o_totalprice AS DECIMAL(12,2))) > 400000)
    SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, o_custkey, spend
    FROM big_cust FULL JOIN big_ord ON c_custkey = o_custkey
    """,
    doc="Full outer join of two derived relations (rich customers vs big "
    "spenders) — NULL-extends both sides.",
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_acctbal") > 5000)
        .select("c_custkey", F.col("c_acctbal").cast("double").alias("c_acctbal"))
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("spend_dec"))
        .where(F.col("spend_dec") > 400000)
        .select("o_custkey", F.col("spend_dec").cast("double").alias("spend"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_custkey", "spend"
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
    """,
    doc="Left semi join (EXISTS): parts that ever shipped in bulk. Semi join "
    "needs only key presence — no row multiplication, minimal shuffle.",
    tags=("join",),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    l = load_table(spark, "lineitem", sf_dir).where(F.col("l_quantity") >= 45)
    return p.join(l, p.p_partkey == l.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
    doc="Left anti join (NOT EXISTS): customers with no open orders.",
    tags=("join",),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, s_name
    FROM region CROSS JOIN supplier
    """,
    doc="Cross join of two tiny relations (5×10) — BroadcastNestedLoopJoin; "
    "bounded sides only, never fact×fact.",
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, "region", sf_dir).select("r_name")
    s = load_table(spark, "supplier", sf_dir).select("s_name")
    return r.crossJoin(s)


@register(
    "join_salted",
    oracle="""
    SELECT o_orderkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
    """,
    doc="Skew-salted equi-join (operators/skew.py): the left side carries a "
    "deterministic hash salt, the right side is replicated per salt, and "
    "the join key becomes (key, salt) — one hot key spreads over N tasks. "
    "Result is IDENTICAL to the plain join, which is exactly what the "
    "oracle checks.",
    tags=("join", "skew"),
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.skew import salted_join

    o = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("k"), "o_orderkey")
    )
    c = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    return salted_join(o, c, "k", num_salts=8).select("o_orderkey", "c_name")


@register(
    "join_range_nonequi",
    oracle="""
    SELECT o_orderkey, o_totalprice, tier
    FROM orders
    JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0), ('high', 300000.0, 1000000000.0))
         AS tiers(tier, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    WHERE o_orderstatus = 'F'
    """,
    doc="Non-equi (range/theta) join: banding a fact column against a tiny "
    "broadcast bounds table — BroadcastNestedLoopJoin, the scalable shape "
    "for banding joins.",
    tags=("join", "nonequi"),
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "F")
    tiers = o.sparkSession.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 300000.0), ("high", 300000.0, 1000000000.0)],
        ["tier", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(tiers),
            (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi),
        )
        .select("o_orderkey", "o_totalprice", "tier")
    )


@register(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT c_custkey, NULLIF(c_nationkey % 7, 3) AS jkey FROM customer
    ),
    r AS (
      SELECT DISTINCT NULLIF(n_nationkey % 7, 3) AS jkey, n_nationkey % 7 AS bucket
      FROM nation
    )
    SELECT r.bucket, CAST(l.jkey IS NULL AS BOOLEAN) AS key_is_null,
           COUNT(*) AS n_customers
    FROM l JOIN r ON l.jkey IS NOT DISTINCT FROM r.jkey
    GROUP BY r.bucket, key_is_null
    ORDER BY r.bucket
    """,
    doc="Null-safe equality join (Spark `<=>` ⟺ SQL IS NOT DISTINCT FROM): "
    "NULL keys MATCH each other instead of silently dropping — the "
    "semantics plain equi-joins get wrong when the join key is derived "
    "and nullable (here NULLIF carves a NULL bucket out of the key "
    "space). Spark still plans this as a hash join (null-safe equality "
    "is a valid hash key), so the scale profile equals the plain "
    "equi-join's.",
    tags=("join", "null"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("jkey")
    )
    r = (
        load_table(spark, "nation", sf_dir)
        .select(
            F.nullif(F.col("n_nationkey") % 7, F.lit(3)).alias("rkey"),
            (F.col("n_nationkey") % 7).alias("bucket"),
        )
        .distinct()
    )
    return (
        c.join(F.broadcast(r), F.col("jkey").eqNullSafe(F.col("rkey")))
        .groupBy("bucket", F.isnull("jkey").alias("key_is_null"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("bucket")
    )


def _building(spark, sf_dir):
    return (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )


def _big_spenders(spark, sf_dir):
    return (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )


_SQL_BUILDING = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SQL_SPENDERS = "SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000"


@register(
    "setop_union_all",
    oracle=f"SELECT c_custkey FROM ({_SQL_BUILDING} UNION ALL {_SQL_SPENDERS})",
    doc="UNION ALL (bag union — no shuffle at all, pure concatenation).",
    tags=("setop",),
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _building(spark, sf_dir).unionAll(_big_spenders(spark, sf_dir))


@register(
    "setop_union_distinct",
    oracle=f"{_SQL_BUILDING} UNION {_SQL_SPENDERS}",
    doc="UNION DISTINCT (set union — one row-hash aggregation).",
    tags=("setop",),
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _building(spark, sf_dir).union(_big_spenders(spark, sf_dir)).distinct()


@register(
    "setop_intersect",
    oracle=f"{_SQL_BUILDING} INTERSECT {_SQL_SPENDERS}",
    doc="INTERSECT (distinct semantics): BUILDING customers who spent big.",
    tags=("setop",),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _building(spark, sf_dir).intersect(_big_spenders(spark, sf_dir))


@register(
    "setop_except",
    oracle=f"{_SQL_BUILDING} EXCEPT {_SQL_SPENDERS}",
    doc="EXCEPT (distinct semantics): BUILDING customers who never spent big.",
    tags=("setop",),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # subtract == EXCEPT DISTINCT (exceptAll would keep surplus multiplicity)
    return _building(spark, sf_dir).subtract(_big_spenders(spark, sf_dir))


@register(
    "setop_except_all",
    oracle=f"{_SQL_BUILDING} EXCEPT ALL {_SQL_SPENDERS}",
    doc="EXCEPT ALL (bag difference — multiplicity-aware).",
    tags=("setop",),
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _building(spark, sf_dir).exceptAll(_big_spenders(spark, sf_dir))


@register(
    "setop_intersect_all",
    oracle=f"{_SQL_BUILDING} INTERSECT ALL {_SQL_SPENDERS}",
    doc="INTERSECT ALL (bag intersection — multiplicity-aware).",
    tags=("setop",),
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _building(spark, sf_dir).intersectAll(_big_spenders(spark, sf_dir))


@register(
    "setop_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="DISTINCT on a projection (whole-row dedup — reference O8+O9 with "
    "the row as the key).",
    tags=("setop",),
)
def setop_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_linestatus").distinct()


@register(
    "setop_union_by_name",
    oracle=f"""
    SELECT c_custkey, 'building' AS src, CAST(NULL AS BIGINT) AS okey
    FROM ({_SQL_BUILDING})
    UNION ALL
    SELECT o_custkey AS c_custkey, 'big_order' AS src, o_orderkey AS okey
    FROM orders WHERE o_totalprice > 250000
    """,
    doc="unionByName with allowMissingColumns: schemas align by COLUMN NAME "
    "not position (the right side lists columns in a different order; the "
    "left side lacks okey entirely and gets it null-filled), vs positional "
    "UNION ALL which would silently mis-zip. Oracle spells out the aligned "
    "projection.",
    tags=("setop", "union"),
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    left = _building(spark, sf_dir).select(
        "c_custkey",
        F.lit("building").alias("src"),
    )
    right = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice") > 250000)
        .select(
            F.lit("big_order").alias("src"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_custkey").alias("c_custkey"),
        )
    )
    return left.unionByName(right, allowMissingColumns=True)


@register(
    "subq_scalar_global_avg",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
    FROM lineitem
    WHERE l_quantity > 2 * (
      SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      FROM lineitem
    )
    """,
    doc="Scalar subquery (TPC-H Q17 shape): lineitems above 2× the global "
    "mean quantity. The scalar aggregates once and broadcasts into the "
    "filter — no per-row recompute.",
    tags=("subquery",),
)
def subq_scalar_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    l.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS l_quantity
        FROM lineitem
        WHERE l_quantity > 2 * (
          SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          FROM lineitem
        )
        """
    )


@register(
    "subq_correlated_avg_per_brand",
    oracle="""
    SELECT p_partkey, p_name, p_brand, CAST(p_retailprice AS DOUBLE) AS p_retailprice
    FROM part p
    WHERE p_retailprice > (
      SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
    doc="Correlated scalar subquery (TPC-H Q2/Q17 family): parts priced "
    "above their brand's mean. Catalyst de-correlates to an aggregate + "
    "equi-join on the correlation key — the 2-round MapReduce construction.",
    tags=("subquery",),
)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    p.createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_brand, CAST(p_retailprice AS DOUBLE) AS p_retailprice
        FROM part p
        WHERE p_retailprice > (
          SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        """
    )


@register(
    "subq_cte_top_customers",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, total_spend, n_orders,
             ROW_NUMBER() OVER (ORDER BY total_spend DESC, o_custkey ASC) AS rk
      FROM spend
    )
    SELECT r.o_custkey, c.c_name, r.total_spend, r.n_orders, CAST(r.rk AS BIGINT) AS rk
    FROM ranked r JOIN customer c ON r.o_custkey = c.c_custkey
    WHERE r.rk <= 15
    """,
    doc="Multi-stage CTE pipeline (TPC-H Q18 shape): aggregate → rank → "
    "join back to the dimension. Exercises reuse of a derived relation.",
    tags=("subquery", "cte"),
)
def subq_cte_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    from pyspark.sql import Window

    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    ranked = spend.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 15)
    return ranked.join(c, ranked.o_custkey == c.c_custkey).select(
        "o_custkey", "c_name", "total_spend", "n_orders", F.col("rk").cast("long").alias("rk")
    )


@register(
    "subq_in_uncorrelated",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ) AND o_orderstatus = 'O'
    """,
    doc="Uncorrelated IN subquery → left-semi join after rewrite.",
    tags=("subquery",),
)
def subq_in_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "O")
    rich = load_table(spark, "customer", sf_dir).where(F.col("c_acctbal") > 9000)
    return o.join(
        rich, o.o_custkey == rich.c_custkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot (wide aggregation): total price per priority × status. "
    "Spark pivot with explicit value list = one pass, no per-value scans; "
    "oracle is the equivalent conditional aggregation.",
    tags=("pivot",),
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(dec("o_totalprice")).cast("double"))
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, CAST(l_quantity AS DOUBLE) AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', CAST(l_discount AS DOUBLE) FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', CAST(l_tax AS DOUBLE) FROM lineitem WHERE l_orderkey < 100
    """,
    doc="Unpivot (melt): wide measures → (measure, val) long form.",
    tags=("pivot",),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") < 100)
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_replace("measure", "^l_", "").alias("measure"),
        F.col("val").cast("double").alias("val"),
    )


@register(
    "subq_recursive_cte_day_spine",
    oracle="""
    WITH RECURSIVE days(day) AS (
      SELECT CAST('2024-01-01 00:00:00' AS TIMESTAMP)
      UNION ALL
      SELECT day + INTERVAL 1 DAY FROM days
      WHERE day < CAST('2024-01-30 00:00:00' AS TIMESTAMP)
    )
    SELECT day, COUNT(e.event_id) AS n_events
    FROM days LEFT JOIN (
      SELECT event_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS eday
      FROM events
    ) e ON e.eday = days.day
    GROUP BY day
    ORDER BY day
    """,
    doc="Recursive CTE (WITH RECURSIVE, new in Spark 4): a 30-day calendar "
    "spine generated by recursion, left-joined to per-day event counts so "
    "empty days surface as zero — the recursive complement of the "
    "sequence()-based spine in events_gap_filled_hours. Spark's recursion "
    "currently supports UNION ALL only (no UNION-distinct), so it fits "
    "ACYCLIC recursion like spines and hierarchies; cyclic closures "
    "(dedup_clusters) stay on the iterative min-label path. Depth is "
    "bounded (30 « the 100-step recursion limit) and the recursion "
    "produces one row per step — driver-side-loop-free.",
    tags=("subquery", "recursive", "events"),
)
def subq_recursive_cte_day_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH RECURSIVE days(day) AS (
          SELECT CAST('2024-01-01 00:00:00' AS TIMESTAMP)
          UNION ALL
          SELECT day + INTERVAL 1 DAY FROM days
          WHERE day < CAST('2024-01-30 00:00:00' AS TIMESTAMP)
        )
        SELECT day, COUNT(e.event_id) AS n_events
        FROM days LEFT JOIN (
          SELECT event_id, date_trunc('day', ts) AS eday FROM events
        ) e ON e.eday = days.day
        GROUP BY day
        ORDER BY day
        """
    )


@register(
    "subq_lateral_topk_per_nation",
    oracle="""
    SELECT n.n_name, top.s_name, top.s_acctbal
    FROM nation n, LATERAL (
      SELECT s_name, s_acctbal
      FROM supplier
      WHERE s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_name
      LIMIT 2
    ) AS top
    ORDER BY n.n_name, top.s_acctbal DESC, top.s_name
    """,
    doc="LATERAL correlated subquery: per nation, its top-2 suppliers by "
    "account balance — the correlated-TVF join surface (Spark plans it as "
    "a LateralJoin/DomainJoin; semantically a per-row subquery the "
    "optimizer decorrelates into a ranked join, same result as the window "
    "formulation in window_rank_topn_per_group but expressed as the SQL "
    "LATERAL operator).",
    tags=("subquery", "lateral", "join"),
)
def subq_lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "nation", sf_dir).createOrReplaceTempView("nation")
    load_table(spark, "supplier", sf_dir).createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT n.n_name, top.s_name, top.s_acctbal
        FROM nation n, LATERAL (
          SELECT s_name, s_acctbal
          FROM supplier
          WHERE s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name
          LIMIT 2
        ) AS top
        ORDER BY n.n_name, top.s_acctbal DESC, top.s_name
        """
    )


@register(
    "asof_purchase_last_view",
    oracle="""
    WITH purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           v.event_id AS last_view_id,
           v.value AS last_view_value
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    doc="As-of join: each purchase + the user's latest view at/before it. "
    "Spark lacks the operator; composed as tag→union→window carry-forward "
    "(operators/asof.py) — one shuffle on the key, linear per key, vs the "
    "quadratic naive theta-join. Oracle is DuckDB's native ASOF JOIN.",
    tags=("asof", "join", "custom"),
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        views,
        key="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["event_id", "value"],
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id_right").alias("last_view_id"),
        F.col("value_right").alias("last_view_value"),
    )


@register(
    "asof_next_purchase_after_view",
    oracle="""
    WITH purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type = 'view'
    )
    SELECT v.event_id AS view_id,
           v.user_id,
           v.ts AS view_ts,
           n.event_id AS next_purchase_id,
           n.ts AS next_purchase_ts
    FROM views v
    LEFT JOIN LATERAL (
      SELECT p.event_id, p.ts
      FROM purchases p
      WHERE p.user_id = v.user_id AND p.ts >= v.ts
      ORDER BY p.ts ASC, p.event_id ASC
      LIMIT 1
    ) n ON TRUE
    """,
    doc="FORWARD as-of join: each view + the user's EARLIEST purchase "
    "at/after it — the conversion-attribution direction DuckDB's native "
    "ASOF JOIN cannot express (backward-only), so the oracle is the "
    "correlated earliest-following LATERAL. Same union+window carry as "
    "the backward operator but traversed descending "
    "(operators/asof.py::asof_join_forward): one shuffle on the key, "
    "linear per key, simultaneous purchases tie-broken by event_id.",
    tags=("asof", "join", "custom"),
)
def asof_next_purchase_after_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.asof import asof_join_forward

    e = load_table(spark, "events", sf_dir)
    views = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join_forward(
        views,
        purchases,
        key="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["event_id", "ts"],
        tie_break="event_id",
    )
    return out.select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id_right").alias("next_purchase_id"),
        F.col("ts_right").alias("next_purchase_ts"),
    )


@register(
    "join_not_in_null_aware",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
    doc="NOT IN (subquery): under three-valued logic one NULL in the "
    "subquery must empty the result, so Catalyst plans a NULL-AWARE anti "
    "join (BroadcastNestedLoopJoin/NullAwareAntiJoin when nullable) — a "
    "semantically different operator from NOT EXISTS' plain left-anti "
    "(join_left_anti). Here the subquery key is non-null so the result "
    "matches the anti join, but the declared surface is the NOT IN plan "
    "shape itself. At scale prefer NOT EXISTS unless NULL semantics are "
    "genuinely wanted — the null-aware variant cannot use a hash join on "
    "nullable keys.",
    tags=("join", "subquery"),
)
def join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    c.createOrReplaceTempView("customer")
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        """
    )


@register(
    "join_existence_flag",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           (u.o_custkey IS NOT NULL) AS has_urgent
    FROM customer c
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT') u
      ON c.c_custkey = u.o_custkey
    """,
    doc="Existence flag (EXISTS as a projected boolean): left join against "
    "the DISTINCT urgent-customer key set, flag = match non-null. The "
    "distinct pre-aggregation keeps the join 1:1 (no row multiplication), "
    "and at TPC-H ratios the key set broadcasts — the fact side never "
    "shuffles. Complements join_left_semi/join_left_anti, which FILTER "
    "rather than flag.",
    tags=("join",),
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    urgent = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return c.join(
        F.broadcast(urgent), c.c_custkey == urgent.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_custkey").isNotNull().alias("has_urgent"),
    )


@register(
    "asof_tolerance_30m",
    oracle="""
    WITH purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    views AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_type = 'view'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           CASE WHEN v.ts >= p.ts - INTERVAL 30 MINUTE THEN v.event_id END AS view_id_30m
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    doc="As-of join with tolerance: latest view at/before each purchase, "
    "but only if within 30 minutes — staler matches become NULL. Same "
    "union+carry-forward plan as asof_purchase_last_view (one shuffle, "
    "linear per key) with the tolerance applied as a post-predicate: "
    "equivalent to a windowed as-of because the carried row is by "
    "construction the NEAREST preceding one. Oracle = DuckDB native ASOF "
    "plus the same predicate.",
    tags=("asof", "join", "custom"),
)
def asof_tolerance_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = e.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    out = asof_join(
        purchases,
        views,
        key="user_id",
        left_time="ts",
        right_time="ts",
        right_payload=["event_id", "ts"],
    )
    in_window = F.col("ts_right") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("event_id_right")).alias("view_id_30m"),
    )

