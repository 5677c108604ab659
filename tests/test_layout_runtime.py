"""Physical-layout and runtime-optimization evidence: z-order clustering,
dynamic partition pruning, AQE skew-join splitting.

These pin the 100 TB mechanisms that small-SF value checks cannot see:
whether the LAYOUT a writer produces actually enables scan pruning, and
whether the runtime re-planner actually engages on the shapes that need it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_ivf_lists_written_by_cell_prune_probe_scans(spark, tmp_path):
    """knn_ivf's scale claim, materialized: write the inverted lists
    partitioned by cell id, and a probe touching nprobe cells must reach
    the scan as PartitionFilters — reading nprobe/k of the corpus from
    disk instead of filtering it after a full scan. At 100 TB this is
    the difference between an ANN probe and a table scan (r12 — the
    docstring said 'would be written bucketed'; this pins that the
    layout actually prunes)."""
    from slr207_mapreduce_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_train_centroids,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", SF_SMOKE)
    cidx, cint = ivf_train_centroids(e)
    cells = ivf_assign_cells(e, cidx, cint, carry_vec=True)

    lists_path = str(tmp_path / "ivf_lists")
    cells.write.partitionBy("cidx").parquet(lists_path)
    lists = spark.read.parquet(lists_path)

    probe_cells = [int(c) for c in cidx[:3]]  # an nprobe=3 probe set
    probed = lists.where(F.col("cidx").isin(probe_cells))
    plan = _formatted_plan(probed)
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cidx" in pf.group(1), plan  # the probe reached the scan
    # value sanity: exactly the probed cells' vectors are read, and the
    # probe fraction is genuinely partial
    want = cells.where(F.col("cidx").isin(probe_cells)).count()
    total = cells.count()
    assert probed.count() == want
    assert 0 < want < total


def test_zorder_layout_tightens_both_dims(spark, tmp_path):
    """Files written in z-order have per-file min/max spans that are narrow
    in BOTH clustered dimensions; a linear sort is narrow in its own key but
    full-width in the other. Narrow spans ARE the pruning mechanism: a
    range predicate on either column skips files whose stats don't overlap.
    """
    from slr207_mapreduce_spark.sources.sinks import zorder_expr
    from slr207_mapreduce_spark.sources.tables import load_table

    li = (
        load_table(spark, "lineitem", SF_SMOKE)
        .select(
            (F.col("l_partkey") % 1024).alias("pk"),
            (F.col("l_orderkey") % 1024).alias("sk"),
        )
        .withColumn("zkey", F.expr(zorder_expr("pk", "sk", bits=10)))
    )
    n_files = 8

    def spans(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("pk") - F.min("pk")).alias("pk_span"),
                (F.max("sk") - F.min("sk")).alias("sk_span"),
            )
            .agg(F.avg("pk_span").alias("pk"), F.avg("sk_span").alias("sk"))
            .collect()[0]
        )
        return per_file["pk"], per_file["sk"]

    zpath = str(tmp_path / "li_z")
    (
        li.repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.parquet(zpath)
    )
    lpath = str(tmp_path / "li_linear")
    (
        li.repartitionByRange(n_files, "pk")
        .sortWithinPartitions("pk")
        .write.parquet(lpath)
    )

    z_pk, z_sk = spans(zpath)
    l_pk, l_sk = spans(lpath)
    full = 1023
    # z-order: BOTH dims substantially narrower than the full domain
    assert z_pk < 0.6 * full and z_sk < 0.6 * full, (z_pk, z_sk)
    # linear sort: its own key is tight, the other dimension is full-width —
    # the contrast that justifies z-order for multi-dim predicates
    assert l_pk < 0.3 * full
    assert l_sk > 0.9 * full
    # and z-order's worse dimension still beats linear's worse dimension
    assert max(z_pk, z_sk) < 0.7 * max(l_pk, l_sk)


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """A join from a filtered dim onto a directory-partitioned fact must
    inject a runtime `dynamicpruning` subquery into the fact scan's
    PartitionFilters — at 100 TB this is the difference between scanning
    one date partition and scanning the table."""
    from slr207_mapreduce_spark.sources.tables import load_table

    fact_path = str(tmp_path / "orders_by_status")
    load_table(spark, "orders", SF_SMOKE).write.partitionBy(
        "o_orderstatus"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)

    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")], ["status", "label"]
    )
    j = fact.join(
        F.broadcast(dim), fact.o_orderstatus == dim.status
    ).where(F.col("label") == "open")

    plan = _formatted_plan(j)
    assert "dynamicpruning" in plan, plan
    # value sanity: only the 'O' partition survives
    assert (
        j.select("o_orderkey").count()
        == fact.where(F.col("o_orderstatus") == "O").count()
    )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join handler must split a pathologically skewed shuffle
    partition (marked `skew=true` in the final adaptive plan) instead of
    letting one straggler task carry the hot key."""
    conf_saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        # forbid broadcast so the skewed shuffle join actually happens
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        # one hot key carrying ~100k rows vs 100 cold keys with 10 each
        left = spark.range(0, 100_000).select(
            F.lit(7).alias("k"), F.col("id").alias("lv")
        ).union(
            spark.range(0, 1000).select(
                (F.col("id") % 100 + 100).alias("k"), F.col("id").alias("lv")
            )
        )
        right = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right, "k").select(F.sum("lv").alias("s"))
        [row] = j.collect()  # run to finalize the adaptive plan
        final_plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan
        # value sanity against the broadcast plan computed without skew paths
        expected = 100_000 * 99_999 // 2  # hot key 7 matches right row 7
        cold = sum(lv for lv in range(1000) if (lv % 100 + 100) < 200)
        assert row["s"] == expected + cold
    finally:
        for k, v in conf_saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_join_injects(spark):
    """With a selective filter on the small side of a shuffle join, the
    optimizer must inject a runtime Bloom filter that pre-filters the large
    side's shuffle input — at 100 TB this drops most fact rows BEFORE the
    exchange instead of after the join."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # the sf0.01 fact side is far below the 10 GiB production default
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, "lineitem", SF_CORRECT)
        o = load_table(spark, "orders", SF_CORRECT).where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        plan = _formatted_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # exact result unchanged by the runtime filter
        [row] = j.collect()
        expected = (
            li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey).count()
        )
        assert row["cnt"] == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_k_sample_is_take_ordered_not_global_sort(spark):
    """pipeline_sample_exact_k must plan as TakeOrderedAndProject (per-task
    heaps + driver merge of k-row lists) — a global sort of the corpus to
    take 100 rows would be the classic scale killer."""
    from slr207_mapreduce_spark.plans.base import all_queries

    df = all_queries()["pipeline_sample_exact_k"].build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan  # no full-width sort node


def test_zorder_key_roundtrip_random(spark):
    """De-interleaving the Morton key recovers both inputs exactly (the key
    is information-preserving over the masked domain)."""
    import random

    from slr207_mapreduce_spark.sources.sinks import zorder_expr

    rng = random.Random(7)
    rows = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(200)]
    df = spark.createDataFrame(rows, ["a", "b"]).selectExpr(
        "a", "b", f"{zorder_expr('a', 'b', bits=10)} AS z"
    )
    for r in df.collect():
        z = r["z"]
        a = sum(((z >> (2 * i)) & 1) << i for i in range(10))
        b = sum(((z >> (2 * i + 1)) & 1) << i for i in range(10))
        assert (a, b) == (r["a"], r["b"])


def test_interval_overlap_bucketed_matches_bruteforce_random(spark):
    """Random interval sets, several bucket widths: the bucketed join must
    equal the brute-force O(n*m) overlap at every width (width only moves
    cost, never results)."""
    import datetime as dt
    import random

    from slr207_mapreduce_spark.operators.interval import (
        interval_overlap_join_bucketed,
    )

    rng = random.Random(13)
    base = dt.datetime(2024, 1, 1)

    def mk(n, max_len_h):
        out = []
        for i in range(n):
            s = base + dt.timedelta(hours=rng.randrange(0, 24 * 20))
            e = s + dt.timedelta(minutes=rng.randrange(1, max_len_h * 60))
            out.append((i, s, e))
        return out

    lrows, rrows = mk(40, 72), mk(40, 6)
    expected = sorted(
        (l[0], r[0])
        for l in lrows
        for r in rrows
        if l[1] <= r[2] and l[2] >= r[1]
    )
    left = spark.createDataFrame(lrows, ["lid", "ls", "le"])
    right = spark.createDataFrame(rrows, ["rid", "rs", "re"])
    for width in (3600, 86400, 7 * 86400):
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join_bucketed(
                left, right, "ls", "le", "rs", "re", bucket_seconds=width
            ).collect()
        )
        assert got == expected, f"width={width}"


def test_bfs_distances_match_bruteforce_random(spark):
    """Random sparse graphs: frontier BFS must equal a Python BFS."""
    import collections
    import random

    from slr207_mapreduce_spark.operators.graph import bfs_distances

    rng = random.Random(29)
    n, m = 60, 90
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    seeds = sorted(rng.sample(range(n), 3))

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    d = 0
    while frontier:
        d += 1
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt

    e_df = spark.createDataFrame(edges, ["src", "dst"])
    s_df = spark.createDataFrame([(s,) for s in seeds], ["node"])
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(e_df, s_df, max_hops=n).collect()
    }
    assert got == dist


def test_write_zordered_clamps_instead_of_wrapping(spark, tmp_path):
    """Out-of-range z-order dims CLAMP to the boundary cell (monotone)
    rather than wrapping with % — value v and v + 2^bits must never share
    a z-key (the wraparound aliased distant values into the same cell and
    silently destroyed pruning), and clamped keys sort at/after every
    in-range key."""
    from slr207_mapreduce_spark.sources.sinks import zorder_expr

    hi = 1023
    rows = [(5, 7), (5 + 1024, 7), (hi, 7), (hi + 999_999, 7), (-3, 7)]
    df = spark.createDataFrame(rows, "a long, b long")
    zk = zorder_expr(
        f"LEAST(GREATEST(a, 0), {hi})", f"LEAST(GREATEST(b, 0), {hi})", bits=10
    )
    got = {r["a"]: r["z"] for r in df.selectExpr("a", f"{zk} AS z").collect()}
    assert got[5] != got[5 + 1024], "wraparound aliasing is back"
    assert got[hi + 999_999] == got[hi], "too-wide values clamp to the boundary cell"
    assert got[-3] == min(got.values()), "negatives clamp to 0"
    assert got[5 + 1024] == got[hi], "clamped value lands in the boundary cell"


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE must merge undersized shuffle partitions at runtime: a tiny
    aggregate shuffled across many partitions should execute with far
    fewer post-shuffle tasks (AQEShuffleRead coalesced) — at 100 TB this
    is what keeps reducer counts tracking data volume, not a static conf."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        df = (
            spark.range(0, 10_000)
            .groupBy((F.col("id") % 50).alias("k"))
            .agg(F.sum("id").alias("s"))
        )
        rows = df.collect()
        assert len(rows) == 50
        final_plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in final_plan and "coalesced" in final_plan, final_plan
        # the runtime partition count must be far below the static 200
        n_parts = df.rdd.getNumPartitions()
        assert n_parts < 20, n_parts
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_pq_materialized_prunes_and_matches_from_raw(spark):
    """The build-once/query-many IVF-PQ index (r13 VERDICT item 5): the
    registered query's plan reads the STORED codes with PartitionFilters
    on the cell id (the probe touches nprobe cells of codes, never the
    corpus), and its output is bit-identical to knn_ivf_pq from raw at
    the same configuration — the equality the shared oracle makes the
    driver hash-check every round."""
    import re

    from slr207_mapreduce_spark.plans.base import all_queries
    from tests.conftest import SF_SMOKE

    specs = all_queries()
    mat = specs["knn_ivf_pq_materialized"].build(spark, SF_SMOKE)
    plan = _formatted_plan(mat)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "cidx" in pf.group(1), plan
    raw = specs["knn_ivf_pq"].build(spark, SF_SMOKE)
    assert sorted(map(tuple, mat.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, raw.collect()), key=lambda t: (t[0], t[3])
    )


def test_ivf_pq_store_is_self_contained(spark):
    """The IVF-PQ store carries its routing/codebook state as an
    underscore sidecar (ignored by Spark's parquet reader), so a FRESH
    process can query an existing store with NO retraining — the
    query-many contract. knn_ivf_pq_load_state must return bit-identical
    arrays to what the build returned, and querying with the loaded
    state must reproduce the from-raw top-k exactly."""
    import numpy as np

    from pyspark.sql import functions as F2

    from slr207_mapreduce_spark.operators.similarity import (
        knn_ivf_pq,
        knn_ivf_pq_build_index,
        knn_ivf_pq_load_state,
        knn_ivf_pq_query_index,
    )
    from slr207_mapreduce_spark.sources.staging import staging_path
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, "embeddings", SF_SMOKE)
    path = staging_path("ivfpq_index_selfcontained_test", SF_SMOKE)
    built = knn_ivf_pq_build_index(e, path)
    loaded = knn_ivf_pq_load_state(path)
    for a, b in zip(built, loaded):
        assert np.array_equal(np.asarray(a), np.asarray(b))
    q = e.where(F2.col("vec_id") < 10)
    got = knn_ivf_pq_query_index(e, q, path, loaded, k=5).collect()
    want = knn_ivf_pq(e, q, k=5).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and len(want) > 0
