"""Connected components — the cluster-merge step of a dedup pipeline
(near-dup PAIRS become duplicate GROUPS only after transitive closure).

Iterative label propagation over DataFrames on the CLOSED neighbourhood:
the edge list is symmetrized and every endpoint gets a self-loop, so
"min label among a node and its neighbours" is one aggregate over the
pinned neighbour table. The labels are seeded straight from it (each
node's closed-neighbourhood minimum id — what a first round from
``label = node`` would compute), then each round propagates the min label
one hop further; stop at fixpoint. Converges in O(diameter) rounds: a
path of diameter d takes d rounds, a clique takes 1 (the seed is already
final; the round only confirms it).

Scale notes:
- Each round is one join + one aggregation on the pinned (symmetrized,
  self-looped) edge list — the classic MapReduce CC construction; Spark
  shuffles the round's labels on node id and the join output on the
  neighbour id, and never the edge list. The self-loops keep every node's
  own label in its min, so no join back to the previous labels is needed.
- ``localCheckpoint`` truncates lineage each round: without it the plan
  doubles per iteration and planning time explodes by round ~15.
- For web-scale graphs the large-star/small-star variant halves rounds;
  diameter of near-dup clusters is tiny (duplicates of a common source),
  so plain propagation is the right tool here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ckpt(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint`` the frame and return (frame, {pinned RDD id}).

    The returned Dataset's analyzed plan is a ``LogicalRDD`` wrapping
    EXACTLY the RDD that ``localCheckpoint`` persisted, so the id comes
    straight off the frame — no diffing of the session-global persistent-RDD
    map, which under concurrent queries would capture (and later free)
    blocks some OTHER query pinned in the same window. All private-API
    access lives in internal/spark_private.py (one choke point with a
    capability probe); on an incompatible Spark build the ids come back
    empty and release degrades to the documented bounded leak.
    """
    from slr207_mapreduce_spark.internal.spark_private import checkpointed_rdd_id

    ck = df.localCheckpoint(eager=True)
    return ck, checkpointed_rdd_id(ck)


def _release_ids(sc, ids: set[int]) -> None:
    """RDD-level unpersist for the given ids (see internal/spark_private).

    ``DataFrame.unpersist()`` goes through the CacheManager and does NOT
    free ``localCheckpoint`` blocks (those are pinned at the RDD layer), so
    superseded per-round checkpoints would otherwise live for the whole
    SESSION — and the driver runs its entire query set in one session.
    The leak compounds across queries until unrelated later plans fail
    under storage-memory pressure (observed at sf0.1). Ids passed here are
    derived from each checkpointed frame itself (see ``_ckpt``), never from
    a global diff, so concurrent queries' blocks are untouched.
    """
    from slr207_mapreduce_spark.internal.spark_private import unpersist_rdd_ids

    unpersist_rdd_ids(sc, ids)


def _pin_partitioned(df: DataFrame, key: str) -> DataFrame:
    """Persist a LOOP-INVARIANT frame hash-partitioned by ``key`` and
    materialize it (r16, guide §2.4).

    ``localCheckpoint`` — the previous mechanism for loop invariants —
    comes back as a ``LogicalRDD`` with ``UnknownPartitioning``
    (verified on Spark 4.1: plans/r16/graph_pagerank_before.txt node (6)),
    so EVERY iteration re-exchanged the full edge table just to join it
    against the round's small label/rank frame. ``persist`` preserves the
    explicit ``repartition(P, key)`` through ``InMemoryRelation``, so the
    per-round join streams the cached side with NO exchange and only the
    small per-round frame moves. The partition count is pinned to the
    session's shuffle partitions so the per-round aggregation exchanges
    line up with it. Blocks evicted under memory pressure are recomputed
    from lineage (persist keeps it) — strictly safer than localCheckpoint,
    whose evicted blocks are unrecoverable. Callers unpersist in their
    ``finally``; the materializing count() keeps eager semantics, and a
    failing count() unpersists before it raises."""
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pinned = df.repartition(p, key).persist()
    try:
        pinned.count()
    except BaseException:
        pinned.unpersist(blocking=False)
        raise
    return pinned


def result_checkpoint_ids(df: DataFrame) -> set[int]:
    """Ids of every ``LogicalRDD`` leaf under ``df``'s analyzed plan — the
    localCheckpoint blocks the frame pins.  Empty set on any unexpected plan
    shape (the release path then degrades to the documented bounded leak
    instead of freeing someone else's blocks)."""
    from slr207_mapreduce_spark.internal.spark_private import logical_rdd_leaf_ids

    return logical_rdd_leaf_ids(df)


def release_result(df: DataFrame) -> None:
    """Free the localCheckpoint blocks pinned by a frame RETURNED from an
    iterative operator here, after the caller's terminal action.

    Each invocation of an iterative query keeps its final result checkpoint
    pinned for the session (the blocks ARE the data — lineage is truncated).
    Callers that invoke such queries many times in one long-lived session
    should call this once the result has been consumed; the frame must not
    be used afterwards. Releases every ``LogicalRDD`` leaf under the frame
    (the result may be a projection over the checkpointed frame).
    """
    _release_ids(df.sparkSession.sparkContext, result_checkpoint_ids(df))


def _label_sum(df: DataFrame) -> int:
    """Exact decimal sum of ``df.label`` — connected_components' convergence
    probe."""
    total = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    row = df.agg(total, F.count("label").alias("n")).collect()[0]
    s = row["s"]
    if s is None:
        # null sum = no non-NULL label (empty frame, or only the NULL
        # node: trivially converged, return 0) OR a >10^38 decimal
        # overflow, which non-ANSI Spark also reports as null — two
        # consecutive overflow-nulls would read as a false fixed point.
        # Unreachable with int64 labels (max possible sum ~2^126 < 10^38
        # needs more distinct nodes than int64 holds), but fail loudly
        # rather than mis-cluster if a future label type changes that.
        if row["n"]:
            raise ArithmeticError(
                "label-sum overflowed decimal(38,0) — convergence "
                "detection would be unsound; shrink label magnitudes"
            )
        return 0
    return int(s)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    on_round=None,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``;
    cluster_id = min node id reachable (deterministic canonical label).
    A NULL endpoint is kept as the row (NULL, NULL): it never takes or
    passes on a label, so the other endpoint of its edge is clustered as if
    the edge were absent.

    The labels start from the SEED — each node's closed-neighbourhood
    minimum, one aggregate over the pinned neighbour table that plans no
    exchange (the table is already hash-partitioned on the group key).
    A round is then one join of the neighbour table with the labels plus
    one min aggregate grouped by neighbour; the self-loops carry each
    node's own label into its min.

    ``on_round(round_index, delta)`` is called after each propagation
    round with the 1-based round number (round 1 is the first round after
    the seed) and the round's total label-mass decrease (0 exactly when no
    label changed) — observability for the O(diameter) convergence claim
    (the round count must stay FLAT when the graph grows by replicating
    components, since replication never increases any component's
    diameter; measured at the emb_sf10 / docs_sf10 tiers in SCALE.md and
    pinned by tests/test_graph.py).

    Convergence detection costs ONE scan+agg of the round's already-
    materialized frame, not a join: labels are MONOTONE NON-INCREASING
    under min-propagation, so the exact decimal sum of labels strictly
    decreases until the fixed point, and an unchanged sum <=> zero labels
    changed. The previous shape — a changed-count self-join of the new
    and old label frames — re-shuffled every (node, label) row a second
    time per round just to test convergence; at 100 TB that is a full
    extra exchange per round for a boolean. decimal(38,0) keeps the sum
    exact far beyond int64 (1e12 nodes x 1e12-scale ids < 1e38)."""
    sc = edges.sparkSession.sparkContext
    # The closed neighbourhood in one pass over edges: both directions plus
    # a self-loop per endpoint. A row with exactly one NULL side is dropped,
    # so a NULL endpoint keeps only its (NULL, NULL) self-loop and stays
    # isolated. Materialized once, hash-partitioned by the per-round join
    # key (see _pin_partitioned): the loop reads sym every round, and the
    # seed's group-by and every round's join then stream it with no
    # exchange, without recomputing the (possibly very expensive) upstream
    # edge pipeline.
    s, d = F.col(src), F.col(dst)
    closed = [
        F.struct(a.alias("a"), b.alias("b"))
        for a, b in ((s, d), (d, s), (s, s), (d, d))
    ]
    sym = _pin_partitioned(
        edges.select(F.explode(F.array(*closed)).alias("e"))
        .select("e.a", "e.b")
        .where(F.isnull("a") == F.isnull("b"))
        .distinct(),
        "a",
    )
    prev_ids: set[int] = set()
    converged = False
    try:
        labels = sym.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("label"))
        prev_sum = _label_sum(labels)
        for round_idx in range(1, max_iter + 1):
            # left join: the NULL node's self-loop matches no label and
            # keeps its NULL label; every other a has a label (the node set
            # never changes: it is sym's a-set = b-set)
            new_labels, new_ids = _ckpt(  # truncate lineage per round
                sym.join(labels, sym.a == labels.node, "left")
                .groupBy(F.col("b").alias("node"))
                .agg(F.min("label").alias("label"))
            )
            cur_sum = _label_sum(new_labels)
            delta = prev_sum - cur_sum  # 0 <=> fixed point (monotonicity)
            # the superseded round is no longer referenced once the sum is
            # computed; the CURRENT round's blocks must stay (lineage is
            # truncated — the blocks ARE the data)
            _release_ids(sc, prev_ids)
            prev_ids = new_ids
            labels = new_labels
            prev_sum = cur_sum
            if on_round is not None:
                on_round(round_idx, delta)
            if delta == 0:
                converged = True
                break
        if not converged:
            # partially-propagated labels would silently split components —
            # loud failure beats wrong clusters
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds "
                "(graph diameter exceeds max_iter); raise max_iter"
            )
    finally:
        # sym is never part of the result; on error also free the last
        # round's blocks so the failure path doesn't leak for the session
        sym.unpersist(blocking=False)
        if not converged:
            _release_ids(sc, prev_ids)
    # Only the final labels frame stays pinned — it IS the result
    # (callers may free it after their terminal action via release_result).
    return labels.select("node", F.col("label").alias("cluster_id"))


def pagerank_fp(
    edges: DataFrame,
    iters: int = 5,
    base: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-point PageRank (damping 0.85), ``iters`` synchronous rounds.

    All arithmetic is INTEGER: ranks live in ``base`` fixed-point units and
    every division is floor-division, so results are bit-identical at any
    parallelism AND in any engine — the iterative-algorithm analogue of the
    SCALE.md exactness invariant (float PageRank would drift per-partition
    in the contribution sums). Dangling mass is not redistributed (nodes
    with no out-edges leak their damped mass — the standard simplification;
    symmetric edge sets have none).

    Per round: contrib = r_src // deg_src shuffled on dst (partial sums
    combine map-side because integer + is commutative), then
    r' = (15*base)//(100*N) + (85*sum)//100, with no-inbound nodes kept at
    teleport via a left join against the node set. O(iters) shuffles on the
    edge key — the same join-per-round shape as connected_components, with
    lineage checkpointed each round.

    Returns (node, rank_fp) — rank_fp summing to ~base over all nodes.
    """
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    # All three loop-invariant frames are pinned (r16, guide §2.4/§5):
    # nodes joins into every round's rank update, graph into every round's
    # contribution sum — unpinned, each would re-derive its distinct-union/
    # join over the edge scan every iteration. sym is persisted too so the
    # one-time nodes/deg/graph builds execute the upstream edge pipeline
    # ONCE instead of three times. nodes/graph are persisted hash-
    # partitioned on their per-round join keys (see _pin_partitioned) —
    # the checkpointed (UnknownPartitioning) form re-exchanged the FULL
    # edge table every round; now only the round's rank frame and the
    # map-side-combined contribution sums move.
    sc = edges.sparkSession.sparkContext
    nodes = graph = None
    prev_ids: set[int] = set()
    try:
        nodes = _pin_partitioned(
            sym.select(F.col("src").alias("node"))
            .union(sym.select(F.col("dst").alias("node")))
            .distinct(),
            "node",
        )
        n = nodes.count()
        deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
        graph = _pin_partitioned(sym.join(deg, "src"), "src")
        sym.unpersist(blocking=False)  # only the builds above read it

        teleport = (15 * base) // (100 * n)
        ranks = nodes.withColumn("rank_fp", F.lit(base // n).cast("long"))
        for _ in range(iters):
            contrib = (
                graph.join(ranks, graph.src == ranks.node)
                # `div`, NOT `/`: Spark's `/` on longs is DOUBLE division,
                # whose round-to-nearest can exceed the true floor quotient;
                # `div` is exact integer division, matching DuckDB's `//`
                # bit-for-bit.
                .select("dst", F.expr("rank_fp div deg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("inflow"))
            )
            new_ranks, new_ids = _ckpt(
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .select(
                    "node",
                    F.expr(
                        f"CAST({teleport} AS BIGINT) + (85 * coalesce(inflow, 0)) div 100"
                    ).alias("rank_fp"),
                )
            )
            # release the superseded round (see _release_ids: leaked
            # checkpoint blocks outlive the query and starve later plans)
            _release_ids(sc, prev_ids)
            prev_ids = new_ids
            ranks = new_ranks
    except BaseException:
        _release_ids(sc, prev_ids)
        raise
    finally:
        # final ranks are checkpointed → they no longer read sym/nodes/graph
        # blocks; only the result frame itself stays pinned (callers may
        # free it after their terminal action via release_result). sym's
        # second unpersist is a no-op unless setup failed before the first.
        for pinned in (sym, nodes, graph):
            if pinned is not None:
                pinned.unpersist(blocking=False)
    return ranks


def pagerank_fp_sql(
    edges_sql: str, iters: int = 5, base: int = 10**12
) -> str:
    """DuckDB mirror of :func:`pagerank_fp`: the iteration is UNROLLED into
    one CTE per round (recursive CTEs cannot aggregate in the recursive
    term), same integer ops, same bits.

    Every CTE is ``AS MATERIALIZED``: DuckDB's default is to INLINE the
    CTE body at each reference, and in this unrolled chain round ``i``
    references both ``r{i-1}`` and the shared ``graph``/``nodes``, so
    inlining re-executes the whole upstream pipeline per reference —
    exponential re-evaluation in the round count. At sf0.01/sf0.1 that is
    just slow; at sf1 the duplicated orders⨝lineitem joins spilled >86 GB
    of temp and filled the disk (found by the round-7 sf1 sweep).
    Materialization pins single evaluation per round — identical bits,
    linear work, same shape the Spark side gets from its per-round
    checkpoints."""
    head = f"""
    WITH sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    nodes AS MATERIALIZED (SELECT src AS node FROM sym UNION SELECT dst FROM sym),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
    graph AS MATERIALIZED (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d ON s.src = d.src),
    r0 AS MATERIALIZED (SELECT node, {base} // (SELECT n FROM nn) AS rank_fp FROM nodes)
    """
    rounds = []
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        rounds.append(f"""
    c{i} AS MATERIALIZED (
      SELECT g.dst, SUM(r.rank_fp // g.deg) AS inflow
      FROM graph g JOIN {prev} r ON g.src = r.node
      GROUP BY g.dst
    ),
    {cur} AS MATERIALIZED (
      SELECT n.node,
             (15 * {base}) // (100 * (SELECT n FROM nn))
               + (85 * COALESCE(c.inflow, 0)) // 100 AS rank_fp
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.dst
    )""")
    return (
        head
        + ","
        + ",".join(rounds)
        + f"\n    SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM r{iters}"
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 10,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """(node, dist): shortest hop count from ANY seed node, frontier BFS.

    Frontier-based propagation — the scale-correct BFS shape: round ``h``
    joins only the CURRENT frontier against the edge list (work ∝ frontier
    degree sum, not |V|·|E| as naive whole-set relaxation would be), and a
    left-anti join against the settled set keeps each node's FIRST (= minimal,
    because BFS expands in hop order) distance. O(eccentricity) rounds, each
    one shuffle on the edge key + one anti-join shuffle; per-round
    ``localCheckpoint`` truncates lineage exactly like
    :func:`connected_components` (and the superseded round's blocks are
    released — see ``_release_ids``).

    Unreachable nodes are absent from the result (not NULL-distance rows);
    seeds themselves report dist 0 whether or not they appear in ``edges``.
    Directionality: edges are symmetrized, matching the undirected semantics
    of the dedup-cluster / trade-graph use cases here.
    """
    sc = edges.sparkSession.sparkContext
    # hash-partitioned persist, not localCheckpoint: every hop joins the
    # frontier against sym on `a`, and the checkpointed form re-exchanged
    # the full edge set per hop (see _pin_partitioned).
    sym = _pin_partitioned(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "a",
    )
    settled_ids: set[int] = set()
    frontier_ids: set[int] = set()
    try:
        settled, settled_ids = _ckpt(
            seeds.select(F.col(node).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("int"))
        )
        frontier = settled
        for h in range(1, max_hops + 1):
            reached = (
                sym.join(frontier, sym.a == frontier.node)
                .select(F.col("b").alias("node"))
                .distinct()
                .withColumn("dist", F.lit(h).cast("int"))
            )
            new_frontier, new_frontier_ids = _ckpt(
                reached.join(settled, "node", "left_anti")
            )
            _release_ids(sc, frontier_ids)
            frontier, frontier_ids = new_frontier, new_frontier_ids
            if frontier.isEmpty():
                break
            new_settled, new_settled_ids = _ckpt(settled.union(frontier))
            _release_ids(sc, settled_ids)
            settled, settled_ids = new_settled, new_settled_ids
    except BaseException:
        _release_ids(sc, settled_ids)
        raise
    finally:
        sym.unpersist(blocking=False)
        _release_ids(sc, frontier_ids)
    # only the settled frame (the result) stays pinned; callers may free it
    # after their terminal action via release_result
    return settled


def bfs_distances_sql(edges_sql: str, seeds_sql: str, max_hops: int = 10) -> str:
    """DuckDB mirror of :func:`bfs_distances`: recursive CTE over the
    symmetrized edge set, depth-bounded by ``max_hops`` (the recursive UNION
    dedups (node, dist) pairs, so the bound guarantees termination even on
    cyclic graphs); MIN(dist) per node == first-reached hop == BFS distance
    whenever the true distance is within the bound — the same truncation the
    Spark loop applies."""
    return f"""
    WITH RECURSIVE sym AS (
      SELECT src, dst FROM ({edges_sql})
      UNION
      SELECT dst, src FROM ({edges_sql})
    ),
    seeds AS (SELECT DISTINCT node FROM ({seeds_sql})),
    reach(node, d) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.dst, r.d + 1
      FROM reach r JOIN sym e ON e.src = r.node
      WHERE r.d < {max_hops}
    )
    SELECT node, CAST(MIN(d) AS INT) AS dist FROM reach GROUP BY node
    """
