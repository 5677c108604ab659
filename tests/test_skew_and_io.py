"""Tests for skew handling and source/sink round-trips."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, explain_shuffles


def test_salted_join_matches_plain_join(spark):
    from slr207_mapreduce_spark.operators.skew import salted_join
    from slr207_mapreduce_spark.sources.tables import load_table

    o = load_table(spark, "orders", SF_SMOKE).select(
        F.col("o_custkey").alias("k"), "o_orderkey"
    )
    c = load_table(spark, "customer", SF_SMOKE).select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    plain = o.join(c, "k").select("o_orderkey", "c_name")
    salted = salted_join(o, c, "k", num_salts=4).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must land in multiple salted partitions."""
    from slr207_mapreduce_spark.operators.skew import salted_join

    hot = spark.range(10000).select(F.lit(1).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(1, "x")], ["k", "v"])
    j = salted_join(hot, dim, "k", num_salts=8)
    assert j.count() == 10000
    n_salts = (
        hot.withColumn("__salt", F.pmod(F.xxhash64("k", "id"), F.lit(8)).cast("int"))
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts == 8, "hot key not spread across salts"


def test_csv_json_text_roundtrip(spark, tmp_path):
    from slr207_mapreduce_spark.sources.tables import load_table, read_csv, read_json
    from slr207_mapreduce_spark.sources.sinks import write_table

    n = load_table(spark, "nation", SF_SMOKE)
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    write_table(n, csv_path, fmt="csv", header="true")
    write_table(n, json_path, fmt="json")
    back_csv = read_csv(spark, csv_path).orderBy("n_nationkey").collect()
    back_json = read_json(spark, json_path).select(*n.columns).orderBy("n_nationkey").collect()
    orig = n.orderBy("n_nationkey").collect()
    assert [tuple(r) for r in back_csv] == [tuple(r) for r in orig]
    assert [tuple(r) for r in back_json] == [tuple(r) for r in orig]


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    """partitionBy layout must enable partition pruning on read."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.sources.sinks import write_table

    l = load_table(spark, "lineitem", SF_SMOKE)
    p = str(tmp_path / "li_part")
    write_table(l, p, partition_by=["l_returnflag"])
    assert sorted(
        d.split("=")[1] for d in os.listdir(p) if d.startswith("l_returnflag=")
    ) == ["A", "N", "R"]
    back = spark.read.parquet(p).where(F.col("l_returnflag") == "R")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert back.count() == l.where(F.col("l_returnflag") == "R").count()


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located bucketed tables must join with ZERO exchanges — the
    repeated-join-key pattern that saves the fact-table shuffle at 100 TB."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.sources.sinks import write_table

    o = load_table(spark, "orders", SF_SMOKE)
    l = load_table(spark, "lineitem", SF_SMOKE)
    write_table(o, "", bucket_by=(4, ["o_orderkey"]), table_name="b_orders")
    write_table(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "",
        bucket_by=(4, ["o_orderkey"]),
        table_name="b_lineitem",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (broadcast would win at this tiny SF and
        # bypass the bucketed scan entirely)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        n_shuffles = explain_shuffles(j)
        assert n_shuffles == 0, f"bucketed join still shuffles ({n_shuffles} exchanges)"
        assert j.count() == o.join(l, o.o_orderkey == l.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_explain_shuffles_counts_exchanges(spark):
    from slr207_mapreduce_spark.sources.tables import load_table

    l = load_table(spark, "lineitem", SF_SMOKE)
    no_shuffle = l.select("l_orderkey")
    one_shuffle = l.groupBy("l_orderkey").count()
    assert explain_shuffles(no_shuffle) == 0
    assert explain_shuffles(one_shuffle) >= 1


def test_orc_roundtrip_with_predicate_pushdown(spark, tmp_path):
    """ORC is the other columnar format Spark ships natively: exact
    round-trip plus pushed filters in the scan, same as parquet."""
    from slr207_mapreduce_spark.sources.sinks import write_table
    from slr207_mapreduce_spark.sources.tables import load_table

    o = load_table(spark, "orders", SF_SMOKE)
    path = str(tmp_path / "orders_orc")
    write_table(o, path, fmt="orc")
    back = spark.read.orc(path)
    assert back.count() == o.count()
    assert [tuple(r) for r in back.orderBy("o_orderkey").limit(50).collect()] == [
        tuple(r) for r in o.orderBy("o_orderkey").limit(50).collect()
    ]
    filtered = back.where(F.col("o_orderkey") == 1).select("o_orderkey", "o_custkey")
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)]" in plan


def test_bucketed_inverted_index_prunes_buckets(spark):
    """The docstring claim that posting lists 'written bucketed by term ...
    lookups partition-prune' proven once end-to-end (VERDICT r3 item #6):
    write the inverted index bucketed by term, read back with a term
    equality predicate, and pin the plan's bucket pruning — a term lookup
    at 100 TB must open 1/N of the files, not scan the index."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.sources.sinks import write_table

    idx = all_queries()["text_inverted_index"].build(spark, SF_SMOKE)
    n_buckets = 8
    write_table(idx, "", bucket_by=(n_buckets, ["term"]), table_name="b_inv_idx")
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev_auto = spark.conf.get(auto_key)
    try:
        # the planner silently falls back to a plain file scan when nothing
        # downstream exploits the bucketing ("Bucketed: false (disabled by
        # query planner)") — bucket PRUNING rides the bucketed scan, so pin
        # it on for the lookup path under test
        spark.conf.set(auto_key, "false")
        some_term = idx.orderBy("term").first()["term"]
        back = spark.table("b_inv_idx").where(F.col("term") == some_term)
        plan = back._sc._jvm.PythonSQLUtils.explainString(
            back._jdf.queryExecution(), "formatted"
        )
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        got = back.collect()
        want = [r for r in idx.collect() if r["term"] == some_term]
        assert len(got) == len(want) == 1
        assert got[0]["posting_list"] == want[0]["posting_list"]
    finally:
        spark.conf.set(auto_key, prev_auto)
        spark.sql("DROP TABLE IF EXISTS b_inv_idx")


def test_bucketed_band_table_joins_without_corpus_shuffle(spark):
    """The incremental-dedup scale contract (pipeline_incremental_dedup): the corpus LSH
    band table is precomputed and stored BUCKETED by (band, bkey), so a
    new-batch probe join shuffles only the batch side — the corpus is
    never reshuffled per ingest. Pin: exactly one Exchange in the join
    plan, and the corpus scan runs bucketed."""
    from slr207_mapreduce_spark.operators.dedup import (
        doc_shingles,
        lsh_bands,
        minhash_signatures,
    )
    from slr207_mapreduce_spark.sources.sinks import write_table
    from slr207_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    bands = lsh_bands(
        minhash_signatures(doc_shingles(docs, distinct=False)), 6, 2, "doc_id"
    )
    write_table(
        bands.where(F.col("doc_id") >= 50),
        "",
        bucket_by=(8, ["band", "bkey"]),
        table_name="b_corpus_bands",
    )
    # materialize the probe batch as a plain (unbucketed) table, so the
    # joined plan's exchange count isn't polluted by the batch pipeline's
    # own internal rebalance — what's under test is the JOIN's shuffle
    bands.where(F.col("doc_id") < 50).write.mode("overwrite").saveAsTable(
        "b_batch_bands"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-requiring join path (broadcast would trivially
        # avoid exchanges and prove nothing about the bucketing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_corpus_bands").join(
            spark.table("b_batch_bands"), ["band", "bkey"]
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan, plan
        n_shuffles = explain_shuffles(j)
        assert n_shuffles == 1, f"corpus side reshuffled ({n_shuffles} exchanges)"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_corpus_bands")
        spark.sql("DROP TABLE IF EXISTS b_batch_bands")


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Corpus drops evolve: a later batch adds a column. mergeSchema reads
    the union schema with NULLs for the old files — the append-only
    evolution contract a long-lived 100 TB table needs."""
    from slr207_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_SMOKE).select("doc_id", "lang")
    p = str(tmp_path / "evolving")
    d.where(F.col("doc_id") % 2 == 0).write.parquet(p)
    (
        d.where(F.col("doc_id") % 2 == 1)
        .withColumn("quality_v2", (F.col("doc_id") % 100).cast("double"))
        .write.mode("append").parquet(p)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"doc_id", "lang", "quality_v2"}
    assert merged.count() == d.count()
    # old-batch rows surface NULL for the new column; new-batch rows don't
    nulls = merged.where(F.col("quality_v2").isNull()).count()
    assert nulls == d.where(F.col("doc_id") % 2 == 0).count()


def _skewed_events(spark, bot_events: int, bot_id: int = 777):
    """Heavy-hitter fixture: one bot user emitting an event every 61 s
    (gap-free within a run) with a >30-min gap injected every 5000 events,
    plus 1000 normal users with 20 events each. Deterministic arithmetic,
    no RNG."""
    bot = spark.range(bot_events).select(
        F.lit(bot_id).cast("long").alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.col("id") * 61
            + (F.col("id") / 5000).cast("long") * 3600  # run-splitting gaps
        ).alias("ts"),
        F.col("id").alias("event_id"),
    )
    normals = spark.range(1000 * 20).select(
        (F.col("id") % 1000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") / 1000).cast("long") * 900
        ).alias("ts"),
        (F.col("id") + 10_000_000).alias("event_id"),
    )
    return bot.unionAll(normals)


@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_capped_sessionization_segmented_matches_loop_on_heavy_hitter(spark):
    """Round-5 verdict item #4: the segmented capped sessionizer must be
    EXACTLY equal to the per-user sequential scan on a fixture with a bot
    user owning ~10^6 events (98% of all rows), while advancing by session
    (searchsorted) instead of looping per event in Python. Wall times are
    printed for the SCALE.md record."""
    import time

    from slr207_mapreduce_spark.operators.skew import capped_sessions_segmented
    from slr207_mapreduce_spark.plans.events import (
        _SESS_SCHEMA,
        _cap_sessions_fn,
    )

    ev = _skewed_events(spark, bot_events=1_000_000).cache()
    ev.count()

    t0 = time.perf_counter()
    seg = capped_sessions_segmented(ev, gap_s=1800, cap_s=7200).collect()
    t_seg = time.perf_counter() - t0

    t0 = time.perf_counter()
    loop = (
        ev.groupBy("user_id")
        .applyInPandas(_cap_sessions_fn, schema=_SESS_SCHEMA)
        .collect()
    )
    t_loop = time.perf_counter() - t0

    key = lambda r: (r["user_id"], r["session_id"])  # noqa: E731
    seg_m = {key(r): (r["n_events"], r["s_start"], r["s_end"]) for r in seg}
    loop_m = {key(r): (r["n_events"], r["s_start"], r["s_end"]) for r in loop}
    assert seg_m == loop_m
    # the bot's 10^6 gap-free-ish events really did form long runs with
    # many cap-break sessions (not a degenerate fixture)
    bot_sessions = sum(1 for (u, _) in seg_m if u == 777)
    assert bot_sessions > 5000
    print(
        f"\nheavy-hitter capped sessionization: segmented={t_seg:.2f}s "
        f"per-event-loop={t_loop:.2f}s ({len(seg_m)} sessions, "
        f"{bot_sessions} bot sessions)"
    )
    ev.unpersist()


def test_salted_join_spreads_50pct_hot_key(spark):
    """A join key owning 50% of the left rows: salted_join must (a) return
    exactly the plain join's result and (b) spread the hot key's rows over
    all num_salts shuffle groups within ~25% of perfect balance — the
    mechanism that turns one straggler task into num_salts even ones."""
    from slr207_mapreduce_spark.operators.skew import salted_join

    n = 200_000
    left = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("dim_val")
    )
    num_salts = 8
    salted = salted_join(left, right, "k", num_salts=num_salts)
    plain = left.join(right, "k")
    assert salted.count() == plain.count()
    s = {(r["k"], r["payload"], r["dim_val"]) for r in salted.collect()}
    p = {(r["k"], r["payload"], r["dim_val"]) for r in plain.collect()}
    assert s == p

    # the deterministic salt really splits the hot key into num_salts
    # near-equal groups (each within 25% of n_hot / num_salts)
    from pyspark.sql import functions as F2

    salt = F2.pmod(F2.xxhash64(*left.columns), F2.lit(num_salts)).cast("int")
    sizes = [
        r["c"]
        for r in left.where("k = 0")
        .withColumn("__salt", salt)
        .groupBy("__salt")
        .agg(F2.count(F2.lit(1)).alias("c"))
        .collect()
    ]
    n_hot = n // 2
    assert len(sizes) == num_salts
    assert max(sizes) < 1.25 * n_hot / num_salts, sizes
    assert min(sizes) > 0.75 * n_hot / num_salts, sizes


def test_default_driver_memory_derivation(monkeypatch):
    """r06 ADVICE: the local[N] heap default derives from detected RAM
    (~20%, clamped to [2g, 24g]) instead of a hardcoded 24g, with
    $SPARK_GRAFT_DRIVER_MEM as the explicit override."""
    from slr207_mapreduce_spark import session as S

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = S._default_driver_memory()
    assert got.endswith("g")
    gb = int(got[:-1])
    assert 2 <= gb <= 24
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    assert gb <= max(2, total_gb * 0.25), "heap default overcommits this host"

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S._default_driver_memory() == "3g"


def test_default_shuffle_partitions_rejects_malformed_env(monkeypatch):
    """A malformed $SPARK_GRAFT_SHUFFLE_PARTITIONS or $SPARK_GRAFT_CPUS
    raises, naming the variable and its value; unset falls back."""
    from slr207_mapreduce_spark import session as S

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert S._default_shuffle_partitions() == str(max(32, os.cpu_count() or 8))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "64")
    assert S._default_shuffle_partitions() == "64"
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "48")
    assert S._default_shuffle_partitions() == "48"
    for name in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS"):
        monkeypatch.setenv(name, "auto")
        with pytest.raises(ValueError, match=f"{name}='auto'"):
            S._default_shuffle_partitions()
        monkeypatch.delenv(name)


def test_get_session_leaves_process_env_alone(spark):
    """get_session only builds Spark conf: it exports no PYTHONPATH entry
    into the driver process or the executors, and sets no environment
    variable."""
    assert not any(
        "slr207_protobuf_shims" in p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
    )
    assert "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK" not in os.environ
    assert not spark.sparkContext.getConf().contains("spark.executorEnv.PYTHONPATH")


def test_narrow_scan_rebalances_oversized_row_groups(spark, tmp_path):
    """A parquet file's real split count is its ROW-GROUP count: byte-range
    splits snap to row-group boundaries, so a file with 1 giant row group
    scans on 1 core no matter how many splits Spark reports. The
    docs_sf10 spot tier hit exactly this (2 row groups / 32 reported
    splits → a 30-instant / 2-straggler profile; dedup_minhash_lsh 70 s →
    7 s after the fix). parallelize_narrow_scan must see through the
    empty-split count via the parquet footers and still rebalance."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from slr207_mapreduce_spark.operators.skew import (
        _parquet_row_group_parallelism,
        parallelize_narrow_scan,
    )

    n = 50_000
    path = str(tmp_path / "one_group.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()),
                  "text": pa.array(["w1 w2 w3 w4 w5"] * n)}),
        path,
        row_group_size=n,
    )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # Tiny split target → many byte-range splits over the single file,
        # reproducing the "reported partitions >= cores, real row groups
        # = 1" shape that fooled the old partition-count-only guard.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
        df = spark.read.parquet(path)
        target = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= target, "fixture not split enough"
        assert _parquet_row_group_parallelism(df) == 1
        out = parallelize_narrow_scan(df, by="doc_id")
        assert out.rdd.getNumPartitions() == target
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # Well-laid-out input (row groups >= cores): guard stays a no-op —
    # no gratuitous shuffle of a healthy scan.
    path2 = str(tmp_path / "many_groups.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64()),
                  "text": pa.array(["w1 w2 w3 w4 w5"] * n)}),
        path2,
        row_group_size=256,
    )
    df2 = spark.read.parquet(path2)
    if df2.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism:
        assert parallelize_narrow_scan(df2, by="doc_id") is df2

    # Non-file sources: indeterminable → None (guard falls back to the
    # partition count alone).
    assert _parquet_row_group_parallelism(spark.range(10).toDF("doc_id")) is None


def test_merge_schema_scan_matches_union(spark, tmp_path):
    """Scan-level schema evolution: two parquet batches written with
    DIFFERENT schemas (the later batch added columns) read back with
    mergeSchema=true must produce exactly the null-filled union that
    pipeline_schema_evolution_union computes operator-side — same rows,
    same by-NAME column matching, missing columns null. This is the
    file-backed twin the registered (hermetic) query cites."""
    from pyspark.sql import functions as F

    v1 = spark.createDataFrame(
        [(0, 100), (2, 250)], "doc_id long, n_chars long"
    )
    v2 = spark.createDataFrame(
        [(1, 700, "en", True), (3, 80, "fr", False)],
        "doc_id long, n_chars long, lang string, long_flag boolean",
    )
    base = str(tmp_path / "evolving")
    v1.write.parquet(base + "/batch=v1")
    v2.write.parquet(base + "/batch=v2")

    scanned = (
        spark.read.option("mergeSchema", "true")
        .parquet(base)
        .select("doc_id", "n_chars", "lang", "long_flag")
    )
    expected = v1.unionByName(v2, allowMissingColumns=True)
    got = {tuple(r) for r in scanned.collect()}
    want = {tuple(r) for r in expected.collect()}
    assert got == want
    # legacy rows must carry NULLs, not positional garbage
    legacy = scanned.where(F.col("doc_id") % 2 == 0).collect()
    assert all(r["lang"] is None and r["long_flag"] is None for r in legacy)


def test_fan_out_for_kernel_widens_narrow_and_skips_wide(spark):
    """The blob-codec pipelines are CPU-bound per ROW, so their key-only
    input must not inherit the size-based split planner's width (r09: the
    sf1 MJPEG kernel ran 12-wide on 32 cores). fan_out_for_kernel
    round-robins a narrow input to defaultParallelism, is a no-op on
    already-wide inputs (no extra exchange at scale), and never changes
    the row set."""
    from slr207_mapreduce_spark.operators.multimodal import fan_out_for_kernel

    target = spark.sparkContext.defaultParallelism

    narrow = spark.range(0, 1000).coalesce(1).select(F.col("id").alias("doc_id"))
    widened = fan_out_for_kernel(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert sorted(r.doc_id for r in widened.collect()) == list(range(1000))

    wide = spark.range(0, 1000, numPartitions=target + 4).select(
        F.col("id").alias("doc_id")
    )
    passed_through = fan_out_for_kernel(wide)
    assert passed_through.rdd.getNumPartitions() == target + 4
    assert passed_through is wide  # no-op, not a new exchange
