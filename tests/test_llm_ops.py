"""Behavioral tests for the LLM-pipeline operators: LSH recall vs the exact
baseline, MinHash estimator sanity, simhash locality, text heuristics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_minhash_estimates_jaccard(spark):
    """MinHash agreement fraction must approximate true Jaccard on pairs
    where both are computed (est is unbiased; with 6 hashes tolerance is
    loose but catches systematic bugs like hashing the doc id)."""
    from slr207_mapreduce_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    est = minhash_lsh_candidates(docs, num_hashes=6, band_size=2).collect()
    assert len(est) > 0, "LSH produced no candidates on the corpus"
    joined = [(exact.get((r["doc_a"], r["doc_b"]), 0.0), r["est_jaccard"]) for r in est]
    # candidates surfaced by LSH should skew to genuinely-similar pairs
    mean_true = sum(t for t, _ in joined) / len(joined)
    base = sum(exact.values()) / max(len(exact), 1)
    assert mean_true >= base, "LSH candidates no more similar than random pairs"


def test_lsh_knn_recall_vs_bruteforce(spark):
    from slr207_mapreduce_spark.operators.similarity import (
        knn_bruteforce,
        knn_lsh_bucketed,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_SMOKE)
    q = emb.where(F.col("vec_id") < 20)
    exact = knn_bruteforce(emb, q, k=5).collect()
    approx = knn_lsh_bucketed(emb, q, k=5, bits=4, tables=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 8 tables × 4 sign bits on these near-noise vectors (top-5 cosine
    # ≈ 0.32): simulated recall ≈ 0.75; anything above 0.5 proves the
    # OR-of-ANDs candidate structure works.
    assert recall > 0.5, f"LSH recall {recall:.2%} too low"
    # every approx hit must be a real vector pair with correct rank bounds
    assert all(1 <= r["rank"] <= 5 for r in approx)

    # Multi-probe monotone knob (r11 VERDICT item 3): probing Hamming-1
    # neighbor buckets only ADDS candidates — recall is monotone in the
    # radius — and with wider 6-bit keys a radius-1 probe set at the same
    # table count must at least match the single-probe recall.
    def recall_at(radius: int) -> float:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in knn_lsh_bucketed(
                emb, q, k=5, bits=6, tables=8, probe_radius=radius
            ).collect()
        }
        return len(exact_set & got) / len(exact_set)

    r0, r1, r2 = recall_at(0), recall_at(1), recall_at(2)
    assert r0 <= r1 <= r2, f"multi-probe recall not monotone: {r0} {r1} {r2}"
    assert r1 > 0.5, f"multi-probe radius-1 recall {r1:.2%} too low"


def test_probe_masks_cover_hamming_ball():
    """probe_masks(bits, r) is exactly the Hamming ball of radius r: every
    mask distinct, popcounts ≤ r, count = sum of C(bits, i)."""
    from math import comb

    from slr207_mapreduce_spark.operators.similarity import probe_masks

    assert probe_masks(4, 0) == [0]
    for bits, r in ((4, 1), (6, 1), (6, 2), (8, 2)):
        masks = probe_masks(bits, r)
        assert len(masks) == len(set(masks)) == sum(comb(bits, i) for i in range(r + 1))
        assert all(0 <= m < (1 << bits) and bin(m).count("1") <= r for m in masks)
        assert masks[0] == 0  # the query's own bucket probes first


def test_simhash_locality(spark):
    """Identical docs get identical simhash; a doc and a lightly-perturbed
    copy stay within small hamming distance; unrelated random strings don't
    systematically collide."""
    from slr207_mapreduce_spark.operators.dedup import simhash

    base = "the quick brown fox jumps over the lazy dog " * 5
    perturbed = base.replace("lazy", "sleepy")
    rows = [(1, base), (2, base), (3, perturbed)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    ham = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham <= 6, f"perturbed doc drifted {ham} bits"


def test_exact_dedup_finds_planted_duplicates(spark):
    from slr207_mapreduce_spark.plans.base import all_queries

    spec = all_queries()["dedup_exact"]
    # plant duplicates by unioning documents with itself via a temp view —
    # simplest check: group sizes on the raw table are all 1 (no dups in
    # testdata), and the operator's fingerprint count equals row count.
    df = spec.build(spark, SF_SMOKE)
    agg = df.agg(
        F.sum("n_copies").alias("total"), F.count(F.lit(1)).alias("groups")
    ).collect()[0]
    assert agg["total"] == 500 and agg["groups"] == 500


def test_text_langid_deterministic_tiebreak(spark):
    from slr207_mapreduce_spark.operators.text import LANGS, lang_hit_count, predicted_lang

    # no stopwords at all → all counts 0 → tie → smallest code (LANGS[0])
    df = spark.createDataFrame([(1, "xyzzy plugh")], ["doc_id", "text"])
    hits = {lg: lang_hit_count("text", lg) for lg in LANGS}
    out = df.select(predicted_lang(hits).alias("p")).collect()[0]["p"]
    assert out == LANGS[0]
    # clear english signal wins
    df2 = spark.createDataFrame([(1, "the cat and the hat of the house")], ["doc_id", "text"])
    out2 = df2.select(predicted_lang({lg: lang_hit_count("text", lg) for lg in LANGS}).alias("p")).collect()[0]["p"]
    assert out2 == "en"


def test_rolling_fingerprint_order_sensitive(spark):
    from slr207_mapreduce_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", rolling_fingerprint("text").alias("fp")).collect()}
    assert got[1] == got[3]
    assert got[1] != got[2], "rolling hash must be order-sensitive"


def test_ivf_knn_recall_grows_with_nprobe(spark):
    """IVF invariants vs brute force: probing more cells can only add
    candidates (recall monotone in nprobe), and the auto budget meets the
    floor the stride quantizer set at sf0.01 (0.60 — SCALE.md round-11
    table; the trained quantizer measured 0.62 at the auto nprobe=6)."""
    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce, knn_ivf
    from slr207_mapreduce_spark.sources.tables import load_table

    from tests.conftest import SF_CORRECT

    emb = load_table(spark, "embeddings", SF_CORRECT)
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, q, k=5).collect()
    }

    def recall(nprobe) -> float:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in knn_ivf(emb, q, k=5, nprobe=nprobe).collect()
        }
        return len(exact & got) / len(exact)

    r_auto, r12 = recall("auto"), recall(12)
    assert r_auto >= 0.55, f"IVF auto-nprobe recall {r_auto:.2%} too low"
    assert r12 >= r_auto, "probing more cells must not lose neighbors"


def test_ivf_trained_assignment_is_a_partition_of_the_corpus(spark):
    """Every corpus vector lands in exactly one inverted list, the cell
    count is the bounded-k formula (never the corpus size — the r11 stride
    quantizer's linear |C| is gone), and training is deterministic: two
    runs produce identical grid-snapped centroids."""
    import math

    import numpy as np
    from pyspark.sql import Window

    from slr207_mapreduce_spark.operators.similarity import (
        IVF_MAX_CENTROIDS,
        auto_ivf_centroids,
        cosine,
        ivf_train_centroids,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_SMOKE)
    n = emb.count()
    cidx, cint = ivf_train_centroids(emb)
    cidx2, cint2 = ivf_train_centroids(emb)
    assert np.array_equal(cint, cint2) and np.array_equal(cidx, cidx2)
    assert len(cidx) == auto_ivf_centroids(n) == min(
        IVF_MAX_CENTROIDS, max(4, math.isqrt(n))
    )
    assert (np.abs(cint) < 10**7).all()  # grid-scaled, bounded components

    # rebuild the assignment exactly as knn_ivf does (nearest, rn=1)
    crows = [(int(i), [float(x) * 1e-6 for x in row]) for i, row in zip(cidx, cint)]
    cent = spark.createDataFrame(crows, "cidx long, cemb array<double>")
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cidx"))
    cells = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "cidx",
            cosine(F.col("embedding"), F.col("cemb")).alias("ccos"),
        )
        .withColumn("crn", F.row_number().over(w))
        .where(F.col("crn") == 1)
    )
    assert cells.count() == n  # exactly one cell per vector
    assert cells.select("vec_id").distinct().count() == n
    got_cells = {r["cidx"] for r in cells.select("cidx").distinct().collect()}
    assert got_cells <= set(cidx.tolist())


def test_ivf_corpus_shuffles_once(spark):
    """The corpus-side cost pin: cell assignment is a single Arrow-batched
    MapInPandas over the corpus scan (the r7 rewrite — the previous
    crossJoin + argmax aggregation scored N×|C| pairs in INTERPRETED
    expression eval, a measured 142 s stage at sf1), probes and candidates
    broadcast, so the whole operator carries ≤3 shuffles — and the window
    ones are |Q|-sized."""
    from slr207_mapreduce_spark.plans.base import all_queries

    df = all_queries()["knn_ivf"].build(spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 3, f"IVF shuffle regression: {shuffles}\n{plan}"
    # assignment is the vectorized Arrow kernel; no interpreted-fold
    # cross join of the corpus against the centroid set anywhere
    assert "MapInPandas" in plan
    # and the corpus never meets the centroid table in a pair join
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # probes side only


def test_pq_adc_recall_and_code_compression(spark):
    """PQ-ADC finds most true neighbors despite 32x code compression, and
    the code table is exactly (N x m) single-byte-range codes."""
    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce, knn_pq_adc
    from slr207_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", SF_SMOKE)
    q = emb.where(F.col("vec_id") < 20)
    exact = knn_bruteforce(emb, q, k=5).collect()
    approx = knn_pq_adc(emb, q, k=5, m=8, sub_dim=8, ksub=16, rerank=20).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # Near-noise vectors are PQ's worst case (no cluster structure to
    # quantize); the 20-candidate re-rank still recovers well over half.
    assert recall > 0.4, f"PQ-ADC recall {recall:.2%} too low"
    assert all(1 <= r["rank"] <= 5 for r in approx)
    # re-ranked scores are exact cosine: every reported pair matches the
    # brute-force score bit-for-bit
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert r["cos_sim"] == exact_scores[key]


def test_count_min_sketch_guarantees_and_merge(spark):
    """CMS contract: (1) never underestimates; (2) overshoot bounded by
    eps*N at the sketch's confidence (eps=1e-4 -> bound ~6 at sf0.01);
    (3) per-group partial count tables merged by union + re-sum give the
    SAME table as a single-pass global build (same hash family), which is
    what makes the aggregation distributable — all checked in DataFrame
    land, no JVM sketch binaries."""
    import pyspark.sql.functions as F
    from tests.conftest import SF_CORRECT
    from slr207_mapreduce_spark.plans.aggregates import cms_table
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.sources.tables import load_table

    out = all_queries()["agg_count_min_frequency"].build(spark, SF_CORRECT).collect()
    assert len(out) == 10
    n_total = load_table(spark, "lineitem", SF_CORRECT).count()
    for r in out:
        assert r.overshoot >= 0, "CMS must never underestimate"
        assert r.overshoot <= 0.0001 * n_total + 1

    li = load_table(spark, "lineitem", SF_CORRECT).select("l_partkey", "l_returnflag")
    flags = [r.l_returnflag for r in li.select("l_returnflag").distinct().collect()]
    partials = [
        cms_table(li.where(F.col("l_returnflag") == flag), "l_partkey")
        for flag in flags
    ]
    merged = (
        partials[0]
        .unionAll(partials[1])
        .unionAll(partials[2])
        .groupBy("d", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    globally = cms_table(li, "l_partkey")
    assert len(flags) == 3
    assert merged.exceptAll(globally).count() == 0
    assert globally.exceptAll(merged).count() == 0


def test_sequential_ids_dense_at_nontrivial_scale(spark):
    """Regression: repartitionByRange boundary sampling is not stable
    across jobs, so without the layout freeze (eager localCheckpoint) the
    sizes pass and the id pass could see different partition layouts and
    ids silently collided (observed: 57 345 distinct of 60 000 on
    lineitem). Small inputs mask the bug — this test runs at the input
    size that exposed it."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.operators.graph import release_result
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    li = load_table(spark, "lineitem", SF_CORRECT).select(
        "l_orderkey", "l_linenumber"
    )
    r = assign_sequential_ids(
        li, order_by=[F.asc("l_orderkey"), F.asc("l_linenumber")], id_col="rk"
    )
    [row] = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("rk").alias("d"),
        F.min("rk").alias("lo"),
        F.max("rk").alias("hi"),
    ).collect()
    assert row["n"] == row["d"] == row["hi"] + 1 and row["lo"] == 0, row
    # id order must agree with the requested total order
    head = r.orderBy("rk").limit(5).collect()
    assert [x["rk"] for x in head] == [0, 1, 2, 3, 4]
    assert [(x["l_orderkey"], x["l_linenumber"]) for x in head] == sorted(
        (x["l_orderkey"], x["l_linenumber"]) for x in head
    )
    release_result(r)


def test_running_total_exact_at_nontrivial_scale(spark):
    """Same regression for the prefix-sum sibling: the last row's exclusive
    prefix + its value must equal the global sum, and every prefix must be
    strictly increasing in the total order (positive values)."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.operators.graph import release_result
    from slr207_mapreduce_spark.operators.ids import with_running_total
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    li = load_table(spark, "lineitem", SF_CORRECT).select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("long").alias("q")
    )
    r = with_running_total(
        li, order_by=["l_orderkey", "l_linenumber"], value_col="q", out_col="pre"
    )
    total = li.agg(F.sum("q")).collect()[0][0]
    [last] = r.orderBy(F.desc("pre")).limit(1).collect()
    assert last["pre"] + last["q"] == total
    n_rows = li.count()
    n_distinct = r.select("pre").distinct().count()
    assert n_distinct == n_rows  # strictly increasing -> all prefixes unique
    release_result(r)


def test_zero_norm_embeddings_excluded_by_contract(spark):
    """r07 ADVICE: cosine is undefined for zero-norm vectors and the engines
    disagree on the resulting NaN (Spark/DuckDB compare NaN greatest; numpy
    lexsort sorts it last), so the operators fix the semantics by
    construction: knn_bruteforce RAISES on a zero-norm query, EXCLUDES
    zero-norm corpus rows from every candidate list, and
    cosine_neardup_pairs never emits a pair touching a zero-norm row."""
    import pytest as _pytest

    from slr207_mapreduce_spark.operators.similarity import (
        cosine_neardup_pairs,
        knn_bruteforce,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero-norm: must never appear in results
        (3, [0.8, 0.2, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # corpus side: the zero-norm row is silently excluded from candidates
    out = knn_bruteforce(emb, emb.where(F.col("vec_id") == 0), k=4).collect()
    neighbors = {r["neighbor_id"] for r in out}
    assert 2 not in neighbors
    assert neighbors == {1, 3, 4}  # everything else ranks normally

    # query side: undefined top-k fails loudly, naming the offending id
    with _pytest.raises(ValueError, match=r"zero-norm or non-finite query.*\[2\]"):
        knn_bruteforce(emb, emb.where(F.col("vec_id") == 2), k=2).collect()

    # pair kernel: no emitted pair touches the zero-norm row, even at a
    # threshold every defined pair clears
    pairs = cosine_neardup_pairs(emb, threshold=-1.0, bits=1).collect()
    assert pairs, "sanity: defined pairs must survive"
    assert all(r["id_a"] != 2 and r["id_b"] != 2 for r in pairs)


def test_zero_norm_excluded_from_ivf_lists(spark):
    """Family-wide zero-norm contract, IVF leg: a zero-norm corpus vector
    never enters training or an inverted list (its cell argmax is
    undefined), and can therefore never become a trained centroid — the
    old stride quantizer had to RAISE when a stride position was
    degenerate; the trained quantizer excludes it by construction."""
    import pytest as _pytest

    from slr207_mapreduce_spark.operators.similarity import (
        ivf_train_centroids,
        knn_ivf,
    )

    rows = [(i, [float(i + 1), 1.0, 0.0]) for i in range(6)]
    rows[2] = (2, [0.0, 0.0, 0.0])  # zero-norm corpus row
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_ivf(emb, emb.where(F.col("vec_id") == 1), k=5, nprobe=4).collect()
    assert out and all(r["neighbor_id"] != 2 for r in out)

    # the zero-norm row is excluded from the seed ranking too: with only
    # 5 valid vectors and k clamped to max(4, isqrt(6)) = 4, no trained
    # centroid can be the zero vector
    import numpy as np

    _, cint = ivf_train_centroids(emb)
    assert (cint != 0).any(axis=1).all()

    # r08 ADVICE item 3: a zero-norm QUERY vector must raise naming the
    # offending id BEFORE the probe join — previously its nprobe cell
    # ranking rode engine NaN ordering through the probe plan.
    with _pytest.raises(ValueError, match=r"zero-norm or non-finite query.*\[2\]"):
        knn_ivf(emb, emb.where(F.col("vec_id") == 2), k=2, nprobe=1)

    # a corpus where EVERY vector is degenerate yields an empty quantizer,
    # not a NaN-ordering plan
    allbad = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cidx, cint = ivf_train_centroids(allbad)
    assert len(cidx) == 0 and cint.size == 0


def test_nan_query_vector_named_not_empty(spark):
    """r09 review: a NaN-component query vector fails the norm>0 check but
    slipped past the old `norm == 0` id lookup, raising 'zero-norm query
    vector(s) []' with NO offending ids. r09 ADVICE closed the remaining
    hole: a ±Inf COMPONENT gives an +Inf norm that PASSES > 0, so the
    guards now test `isfinite(norm) & (norm > 0)` — NaN, ±Inf, and
    zero-norm vectors are all rejected by name."""
    import pytest as _pytest

    from slr207_mapreduce_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [float("nan"), 1.0, 0.0]),  # NaN component -> NaN norm
        (3, [0.8, 0.2, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.0]),
        (6, [float("inf"), 1.0, 0.0]),  # Inf component -> +Inf norm (> 0!)
        (7, [float("-inf"), 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    good = emb.where(F.col("vec_id") < 6).where(F.col("vec_id") != 2)
    nan_q = emb.where(F.col("vec_id") == 2)
    inf_q = emb.where(F.col("vec_id").isin(6, 7))

    with _pytest.raises(ValueError, match=r"non-finite query.*\[2\]"):
        knn_bruteforce(good, nan_q, k=2).collect()
    with _pytest.raises(ValueError, match=r"non-finite query.*\[2\]"):
        knn_ivf(good, nan_q, k=2, nprobe=1)
    with _pytest.raises(ValueError, match=r"non-finite query.*\[6, 7\]"):
        knn_bruteforce(good, inf_q, k=2).collect()
    with _pytest.raises(ValueError, match=r"non-finite query.*\[6, 7\]"):
        knn_ivf(good, inf_q, k=2, nprobe=1)
    # Inf/NaN-component CORPUS rows are excluded from training (the old
    # stride quantizer had to raise when one landed on a stride position;
    # the trained quantizer's validity filter nrm>0 AND nrm<inf drops
    # them), from the inverted lists, and hence from every result set
    from slr207_mapreduce_spark.operators.similarity import ivf_train_centroids
    import numpy as np

    cidx, cint = ivf_train_centroids(emb)
    # k = max(4, isqrt(8)) = 4 seeds, drawn from the 5 valid rows only
    assert len(cidx) == 4
    assert np.isfinite(cint.astype("float64")).all()
    out = knn_ivf(emb.where(F.col("vec_id") != 2), good, k=7, nprobe=4).collect()
    assert out and all(r["neighbor_id"] not in (6, 7) for r in out)


def test_auto_budget_formulas_match_sql():
    """The auto-scaled probe budgets (r10 VERDICT item 2) must compute the
    SAME integer on both engines: Python bit_length (exact) vs DuckDB
    floor(log2(integer)). Sweep corpus sizes across every power-of-two
    boundary up to 2^24x the anchor — a single off-by-one at a boundary
    would desync the Spark plan from its oracle at exactly one SF."""
    import duckdb

    from slr207_mapreduce_spark.operators.similarity import (
        AUTO_BUDGET_ANCHOR,
        auto_ivf_nprobe,
        auto_jl_shortlist,
        auto_lsh_tables,
        auto_pq_rerank,
        budget_doublings,
        budget_doublings_sql,
    )

    ns = [1, 100, 499, 500, 501, 999, 1000, 1001, 2000, 2001]
    ns += [AUTO_BUDGET_ANCHOR * (1 << p) + d for p in range(1, 25, 3) for d in (-1, 0, 1)]
    con = duckdb.connect()
    for n in ns:
        d_py = budget_doublings(n)
        d_sql = con.execute(
            "SELECT " + budget_doublings_sql(str(n))
        ).fetchone()[0]
        assert d_py == d_sql, f"n={n}: python {d_py} != sql {d_sql}"
    # calibration anchors: fixed configs at sf0.01 (500 vectors), the
    # hand-measured restore points at sf0.1 (2000 vectors = 2 doublings)
    assert (auto_lsh_tables(500), auto_lsh_tables(2000)) == (8, 16)
    # r12: IVF anchor recalibrated 3 -> 6 for the trained bounded-k
    # quantizer (its isqrt cell counts shrink the per-probe fraction);
    # r13: small-corpus floor max(11, .) — ~50% of the anchor's 22 cells
    assert (auto_ivf_nprobe(500), auto_ivf_nprobe(2000)) == (11, 16)
    assert (auto_pq_rerank(500), auto_pq_rerank(2000)) == (20, 150)
    assert (auto_jl_shortlist(500), auto_jl_shortlist(2000)) == (150, 600)
    # monotone and capped
    assert auto_lsh_tables(10**9) == 32  # structural SQL unroll ceiling
    prev = 0
    for n in sorted(ns):
        cur = auto_ivf_nprobe(n)
        assert cur >= prev
        prev = cur


def test_auto_ivf_centroids_matches_sql_isqrt():
    """The trained quantizer's cell count k = min(256, max(4, isqrt(N)))
    must be the same integer on both engines. math.isqrt is exact; the SQL
    mirror corrects floor(sqrt(double)) by ±1 — sweep perfect squares and
    their neighbors (where 1-ulp sqrt rounding actually bites) plus the
    4 and 256 clamp boundaries."""
    import duckdb

    from slr207_mapreduce_spark.operators.similarity import (
        IVF_MAX_CENTROIDS,
        auto_ivf_centroids,
        auto_ivf_centroids_sql,
    )

    ns = [1, 2, 3, 4, 15, 16, 17, 499, 500, 2000, 20000, 65535, 65536, 65537]
    ns += [s * s + d for s in (22, 44, 141, 255, 256, 257, 1000) for d in (-1, 0, 1)]
    con = duckdb.connect()
    for n in ns:
        k_py = auto_ivf_centroids(n)
        k_sql = con.execute("SELECT " + auto_ivf_centroids_sql(str(n))).fetchone()[0]
        assert k_py == k_sql, f"n={n}: python {k_py} != sql {k_sql}"
        assert 4 <= k_py <= IVF_MAX_CENTROIDS
    # the r11 guard scenario: 3.3M vectors used to mean 65k stride
    # centroids and a ValueError; the trained quantizer caps at 256
    assert auto_ivf_centroids(3_300_000) == IVF_MAX_CENTROIDS
    assert auto_ivf_centroids(10**12) == IVF_MAX_CENTROIDS


def test_auto_graph_centroids_scales_and_matches_sql():
    """The GRAPH tier's cell dial (r13 VERDICT item 1): equal to the
    search dial at every fixture tier (so every measured small-corpus
    recall is unchanged), linear in N above ~37k rows (so per-cell
    membership — and hence total graph compute per row — stays bounded
    instead of going quadratic at the old 256-cell cap), bytes-capped at
    4096 cells, monotone, and the same integer in both engines."""
    import duckdb

    from slr207_mapreduce_spark.operators.similarity import (
        GRAPH_MAX_CENTROIDS,
        GRAPH_TARGET_CELL_ROWS,
        auto_graph_centroids,
        auto_graph_centroids_sql,
        auto_ivf_centroids,
    )

    # fixture tiers: sf0.001/sf0.01 (500), sf0.1 (2000), sf1 (20k) — the
    # graph dial must equal the search dial so cells (and hashes) match
    # every prior round's measurements at these corpora.
    for n in (500, 2000, 20_000, 36_864):
        assert auto_graph_centroids(n) == auto_ivf_centroids(n), n
    # linear regime: the decade tier (200k) gets N // 192 cells — the
    # measured ~115 s configuration's cell size, not the quadratic cap
    assert auto_graph_centroids(200_000) == 200_000 // GRAPH_TARGET_CELL_ROWS
    assert auto_graph_centroids(200_000) > 1000
    # bytes cap: 4096 cells x 64 dims x 8 B = 2 MiB of centroid state
    assert auto_graph_centroids(10**9) == GRAPH_MAX_CENTROIDS
    # monotone + SQL lockstep (sweep the isqrt-correction hot spots, the
    # isqrt/linear crossover at 192^2, and both clamp boundaries)
    ns = [1, 4, 16, 499, 500, 2000, 20_000, 36_863, 36_864, 36_865,
          65_536, 100_000, 200_000, 786_431, 786_432, 10**7]
    ns += [s * s + d for s in (22, 141, 192, 447) for d in (-1, 0, 1)]
    con = duckdb.connect()
    prev = 0
    for n in sorted(ns):
        k_py = auto_graph_centroids(n)
        k_sql = con.execute(
            "SELECT " + auto_graph_centroids_sql(str(n))
        ).fetchone()[0]
        assert k_py == k_sql, f"n={n}: python {k_py} != sql {k_sql}"
        assert 4 <= k_py <= GRAPH_MAX_CENTROIDS
        assert k_py >= prev, f"dial not monotone at n={n}"
        prev = k_py


def test_auto_graph_nprobe_budget_and_sql():
    """The graph tier's probe dial: equal to the search dial at every
    ORACLE fixture tier (11 at 500 rows, 16 at 2,000 — so driver-window
    hashes are untouched), then pinned at the fixed per-row candidate
    budget (16 cells x ~192 rows) that makes total graph compute
    O(N*d) in the linear-cell regime. Monotone; SQL mirror in lockstep.
    The recall/wall trade of the cap is measured in SCALE.md round-14
    (decade tier: 294 s -> 126 s at identical 1.0 sampled recall;
    shell-adversarial sf1: 0.891 -> 0.748)."""
    import duckdb

    from slr207_mapreduce_spark.operators.similarity import (
        GRAPH_NPROBE_CAP,
        auto_graph_nprobe,
        auto_graph_nprobe_sql,
        auto_ivf_nprobe,
    )

    assert (auto_graph_nprobe(500), auto_graph_nprobe(2000)) == (
        auto_ivf_nprobe(500),
        auto_ivf_nprobe(2000),
    ) == (11, 16)
    assert auto_graph_nprobe(200_000) == GRAPH_NPROBE_CAP
    con = duckdb.connect()
    prev = 0
    for n in (1, 4, 499, 500, 1999, 2000, 20_000, 200_000, 10**7):
        p_py = auto_graph_nprobe(n)
        # the SQL mirror counts the embeddings view; evaluate the law
        # itself with an inline count expression instead
        p_sql = con.execute(
            "SELECT "
            + auto_graph_nprobe_sql().replace(
                "SELECT COUNT(*) FROM embeddings WHERE (TRUE)", str(n)
            )
        ).fetchone()[0]
        assert p_py == p_sql, f"n={n}: python {p_py} != sql {p_sql}"
        assert p_py >= prev
        prev = p_py


def test_ngram_jaccard_auto_plan_choice(spark):
    """ngram_jaccard_pairs_auto picks the plan per run from the shingle-df
    probe (r11 VERDICT item 5): plain inverted-index join on the bounded
    real corpus (max_df/n ~ 1%), prefix filtering under boilerplate skew
    (max_df = n) — and the output is bit-identical either way, so the
    registered oracle never changes. The chosen plan is pinned through its
    physical signature: only the prefix plan verifies candidates with
    array_intersect over collected shingle arrays."""
    from slr207_mapreduce_spark.operators.dedup import (
        SKEW_DF_RATIO,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_auto,
        ngram_jaccard_skew_probe,
    )
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    def physical(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    # bounded regime: real documents table -> plain plan
    d = load_table(spark, "documents", SF_CORRECT)
    max_df, n = ngram_jaccard_skew_probe(d)
    assert max_df * SKEW_DF_RATIO < n  # the probe sees a bounded corpus
    auto = ngram_jaccard_pairs_auto(d, 0.5, 3)
    assert "array_intersect" not in physical(auto)
    base = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in ngram_jaccard_pairs(d, 0.5, 3).collect()}
    assert {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in auto.collect()} == base

    # skewed regime: universal boilerplate header -> prefix plan
    header = "copyright notice all rights reserved legal header"
    rows = [
        (dd, header + " " + " ".join(f"w{dd // 2}_{j}" for j in range(30)))
        for dd in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_df, n = ngram_jaccard_skew_probe(docs)
    assert max_df * SKEW_DF_RATIO >= n  # the probe sees the hot bucket
    auto_skew = ngram_jaccard_pairs_auto(docs, 0.5, 3)
    assert "array_intersect" in physical(auto_skew)
    got = {(r["doc_a"], r["doc_b"]) for r in auto_skew.collect()}
    assert got == {(dd, dd + 1) for dd in range(0, 100, 2)}


def test_ngram_jaccard_prefix_filter_parity_and_skew_rationale(spark):
    """The prefix-filtered (AllPairs/PPJoin) exact-Jaccard operator must
    emit bit-identical pairs to the plain inverted-index join on the real
    corpus, AND must prune boilerplate shingles out of the candidate join
    entirely — the regime it exists for: a shared header puts every doc
    into the same posting buckets, which the plain join expands
    quadratically while the rarest-first prefix never touches them
    (measured 3.2x at 5k docs; the gap grows ~N^2 on the plain side)."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.operators.dedup import (
        doc_shingles,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    d = load_table(spark, "documents", SF_CORRECT)
    base = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, 0.5, 3).collect()
    }
    pre = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_prefix(d, 0.5, 3).collect()
    }
    assert base == pre and len(base) > 0

    # boilerplate-skew corpus: a 7-token header shared by EVERY doc; body
    # tokens unique per near-dup pair. The universal shingles must be
    # absent from the prefix index (df = N sorts them last in every doc,
    # past the prefix cut), so candidate volume tracks the RARE postings.
    header = "copyright notice all rights reserved legal header"
    rows = [
        (dd, header + " " + " ".join(f"w{dd // 2}_{j}" for j in range(30)))
        for dd in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs_prefix(docs, 0.5, 3).collect()
    }
    assert got == {(dd, dd + 1) for dd in range(0, 400, 2)}

    # and the structural claim itself: no shingle with df == N survives
    # the prefix cut (the quadratic buckets are provably not joined)
    from pyspark.sql import Window

    sh = doc_shingles(docs, "doc_id", 3)
    rarity = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
    wsz = Window.partitionBy("doc_id")
    prefix = (
        sh.join(rarity, "sh")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .where(F.col("rn") <= F.col("sz") - F.floor(0.5 * F.col("sz")) + 1)
    )
    assert prefix.where(F.col("df") == 400).count() == 0


def test_ivf_pq_all_cells_probed_equals_pq_adc(spark):
    """knn_ivf_pq's routing stage only ever PRUNES: with nprobe >= the
    cell count every list is probed, the candidate set equals knn_pq_adc's
    (all valid corpus rows), and the output must be BIT-IDENTICAL at the
    same codebook/rerank config. Also: the auto-config result's candidates
    must honor the routing (a smoke recall floor via the probed fraction)."""
    from slr207_mapreduce_spark.operators.similarity import (
        auto_ivf_centroids,
        knn_ivf_pq,
        knn_pq_adc,
    )
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    e = load_table(spark, "embeddings", SF_CORRECT)
    q = e.where(F.col("vec_id") < 10)
    n_cells = auto_ivf_centroids(e.count())
    full = {
        tuple(r)
        for r in knn_ivf_pq(
            e, q, k=5, nprobe=n_cells, m=8, sub_dim=8, ksub=16, rerank=40
        ).collect()
    }
    pq = {
        tuple(r)
        for r in knn_pq_adc(
            e, q, k=5, m=8, sub_dim=8, ksub=16, rerank=40
        ).collect()
    }
    assert full == pq and len(full) == 50
    # pruned config still returns a full top-k per query
    pruned = knn_ivf_pq(e, q, k=5, nprobe=3, m=8, sub_dim=8, ksub=16, rerank=40)
    counts = {r.query_id: r.rank for r in pruned.collect() if r.rank == 5}
    assert len(counts) == 10


def test_ivf_pq_excludes_invalid_corpus_rows_where_pq_adc_chokes(spark):
    """The equality invariant above is scoped to CLEAN corpora by design:
    knn_ivf_pq's candidates come from the IVF lists (zero-norm/non-finite
    excluded by the family contract), while knn_pq_adc ADC-scans every
    row — and a zero-norm row reaching its exact re-rank divides by zero,
    which under ANSI mode (Spark 4 default) RAISES. Pin the intended
    divergence: the composed index quietly returns a correct top-k with
    the invalid row excluded; the flat PQ scan fails on the same data."""
    import pytest as _pytest

    from slr207_mapreduce_spark.operators.similarity import knn_ivf_pq, knn_pq_adc

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(16)]) for i in range(30)]
    rows.append((99, [0.0] * 16))  # zero-norm corpus row
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.where(F.col("vec_id") == 0)
    kw = dict(k=3, m=4, sub_dim=4, ksub=8, rerank=31)
    composed = {r.neighbor_id for r in knn_ivf_pq(e, q, nprobe=64, **kw).collect()}
    assert 99 not in composed
    assert len(composed) == 3
    # rerank=31 guarantees the zero-norm row reaches knn_pq_adc's exact
    # cosine stage: DIVIDE_BY_ZERO under ANSI
    with _pytest.raises(Exception, match="DIVIDE_BY_ZERO|ArithmeticException"):
        knn_pq_adc(e, q, **kw).collect()


def test_knn_graph_ivf_invariants_and_recall(spark):
    """Corpus-wide kNN graph: no self-edges, contiguous ranks, <= k rows
    per node, EVERY valid vector present as a query (the all-rows-as-
    queries property that distinguishes it from the bounded-|Q| tiers),
    and recall vs the exact numpy graph at or above the per-query IVF
    figure's neighborhood."""
    import numpy as np

    from slr207_mapreduce_spark.operators.similarity import knn_graph_ivf
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_CORRECT

    e = load_table(spark, "embeddings", SF_CORRECT)
    rows = knn_graph_ivf(e, k=5).collect()
    byq = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        byq.setdefault(r.query_id, []).append(r.rank)
    assert len(byq) == e.count()  # every vector is a query
    for q, ranks in byq.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    # exact graph (numpy, sequential-fold not required for set recall)
    t = e.selectExpr("vec_id", "CAST(embedding AS array<double>) AS v").collect()
    ids = np.array([r.vec_id for r in t])
    mat = np.array([r.v for r in t])
    nrm = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(nrm, nrm)
    np.fill_diagonal(cos, -np.inf)
    exact = set()
    for i in range(len(ids)):
        top = np.lexsort((ids, -cos[i]))[:5]
        exact.update((int(ids[i]), int(ids[j])) for j in top)
    got = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, f"graph recall {recall:.2%} below floor"
