"""Graph queries (``graph_*``; operators in
slr207_mapreduce_spark/operators/graph.py): PageRank, triangle counting,
degree hubs and BFS distances over edge lists derived from the star schema.
All arithmetic is integer (PageRank in 1e12 fixed-point units), and the
iterative operators checkpoint their lineage per round; the oracles replay
the same rounds in DuckDB SQL, so the results stay exactly checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from slr207_mapreduce_spark.operators.graph import bfs_distances_sql, pagerank_fp_sql
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


_CS_EDGES_SQL = """
      SELECT o_custkey AS src, 1000000 + l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION ALL
      SELECT 1000000 + l_suppkey, o_custkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


@register(
    "graph_pagerank",
    oracle=pagerank_fp_sql(_CS_EDGES_SQL, iters=5),
    doc="Fixed-point PageRank (5 synchronous rounds, damping 0.85) over the "
    "symmetrized customer-supplier trade graph (suppliers offset by 1e6 to "
    "disjoint the id spaces). ALL arithmetic is integer floor-division in "
    "1e12 fixed-point units — Spark `div`, DuckDB `//` — so a "
    "1000-executor run produces the oracle's exact bits (float PageRank "
    "drifts in the contribution sums). Per round: one shuffle of "
    "edge-contributions (integer partial sums combine map-side) + a left "
    "join back to the node set; lineage checkpointed per round like "
    "connected_components. Dangling mass: none (symmetric edges).",
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.operators.graph import pagerank_fp

    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("cust"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("supp"),
    )
    edges = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).union(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    return pagerank_fp(edges, iters=5)


_COPURCHASE_EDGES_SQL = """
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1
      JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH edges AS ({_COPURCHASE_EDGES_SQL})
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*)
                 FROM edges e1
                 JOIN edges e2 ON e2.a = e1.b
                 JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
             AS n_triangles
    """,
    doc="Triangle counting on the co-purchase graph (parts sharing an "
    "order, canonical a<b edges) via the DEGREE-ORDERED 'forward' "
    "algorithm: every undirected edge is re-oriented from its lower-"
    "(degree, id) endpoint to the higher one, wedges are pairs of "
    "out-edges at a common source, and a closing out-edge probe counts "
    "each triangle exactly once (the orientation is a total order, so no "
    "/6 correction). Degree ordering bounds every out-degree by "
    "O(sqrt(m)), so wedge volume is O(m^1.5) instead of sum(deg^2) — "
    "the difference between a hub node generating deg^2 wedges and "
    "sqrt(m)^2 — the same trick GraphX/cover-based exact counters use. "
    "Triangle count is orientation-invariant, so the naive-oriented "
    "oracle stays valid. All joins equi-keyed; no broadcast of the edge "
    "list needed. Clustering-coefficient analytics over training corpora "
    "(doc-link graphs) reduce to this same plan.",
    tags=("graph", "triangles"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    e = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .distinct()
    )
    # total order key (deg, node) packed into one long: deg << 32 | node
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select("node", (F.col("deg") * F.lit(4294967296) + F.col("node")).alias("okey"))
    )
    keyed = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("okey", "ka"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("okey", "kb"), "b")
    )
    # orient low-(deg,id) -> high; carry the dst's order key for wedge order
    # materialize the oriented edge list ONCE: it feeds n_edges, both
    # wedge sides, and the closing probe — unpinned, each reuse would
    # re-run the lineitem self-join + distinct + degree joins (audited as
    # 30+ shuffles before this checkpoint). The result frame keeps the
    # blocks pinned; callers may free them via graph.release_result.
    o = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.greatest("ka", "kb").alias("kdst"),
    ).localCheckpoint(eager=True)
    # |oriented| == |undirected|: count it off the materialized frame
    n_edges = o.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    wedges = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e2.src") == F.col("e1.src"))
        .where(F.col("e1.kdst") < F.col("e2.kdst"))
        .select(F.col("e1.dst").alias("v"), F.col("e2.dst").alias("w"))
    )
    tri = (
        wedges.join(
            o.alias("e3"),
            (F.col("e3.src") == F.col("v")) & (F.col("e3.dst") == F.col("w")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return n_edges.crossJoin(tri)


@register(
    "graph_degree_hubs",
    oracle=f"""
    WITH edges AS ({_COPURCHASE_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM edges
        UNION ALL
        SELECT b AS node FROM edges
      ) GROUP BY node
    )
    SELECT node, degree FROM deg
    ORDER BY degree DESC, node ASC
    LIMIT 15
    """,
    doc="Degree centrality / hub detection on the co-purchase graph: "
    "undirected degree = count over the unioned endpoint list (each "
    "canonical a<b edge contributes one to each endpoint), top-15 with "
    "deterministic (degree desc, node asc) tie-break. One shuffle after "
    "a map-side-combinable count; top-K is TakeOrderedAndProject, never "
    "a global sort.",
    tags=("graph", "degree"),
)
def graph_degree_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    e = (
        li.alias("l1")
        .join(
            li.alias("l2"),
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_partkey") < F.col("l2.l_partkey")),
        )
        .select(F.col("l1.l_partkey").alias("a"), F.col("l2.l_partkey").alias("b"))
        .distinct()
    )
    # explode both endpoints from ONE evaluation of the edge frame — a
    # src/dst unionAll would re-execute the lineitem self-join + distinct
    # for each branch (audited: 4 lineitem scans, now 2)
    nodes = e.select(F.explode(F.array("a", "b")).alias("node"))
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("node"))
        .limit(15)
    )


_BFS_SEEDS_SQL = """
      SELECT c_custkey AS node
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
"""


@register(
    "graph_bfs_distances",
    oracle=bfs_distances_sql(_CS_EDGES_SQL, _BFS_SEEDS_SQL, max_hops=4),
    doc="Multi-source BFS hop distances over the customer-supplier trade "
    "graph, seeded at every NATION_7 customer (hop 0), bounded at 4 hops. "
    "Frontier propagation: round h joins ONLY the current frontier against "
    "the edge list and anti-joins the settled set, so per-round work is "
    "proportional to the frontier's degree sum — the shape that survives "
    "web-scale graphs — with per-round localCheckpoint + superseded-block "
    "release like the other iterative operators. Oracle: depth-bounded "
    "recursive CTE, MIN(hop) per node. Distances are exact integers, so "
    "the hash check is bit-strict at any parallelism.",
    tags=("graph", "iterative", "bfs"),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.operators.graph import bfs_distances

    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
    )
    seeds = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .where(F.col("n_name") == "NATION_7")
        .select(F.col("c_custkey").alias("node"))
    )
    return bfs_distances(edges, seeds, max_hops=4)

