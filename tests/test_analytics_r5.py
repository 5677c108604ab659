"""Property tests for the count-min, PPS-sampling and pHash queries —
invariants the oracle equality can't express: the count-min one-sided
error guarantee over the WHOLE vocabulary, sketch mergeability across
disjoint corpus halves, PPS partition-invariance and weight
proportionality, and the phash banding's pigeonhole recall."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def qs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()


def test_countmin_never_undercounts_any_term(spark):
    """CM is one-sided for EVERY term, not just the reported top-20:
    est(term) = min over rows of bucket sums >= exact count, because each
    bucket sum includes the term's own count. Rebuild the sketch over the
    full vocabulary and assert the guarantee vocabulary-wide."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.functions.portable import countmin_hash_rows
    from slr207_mapreduce_spark.plans.text import (
        _CM_DEPTH,
        _CM_SEED0,
        _CM_WIDTH,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_CORRECT)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hash_rows = countmin_hash_rows(
        F.col("term"), depth=_CM_DEPTH, width=_CM_WIDTH, seed0=_CM_SEED0
    )
    cm = (
        counts.select(F.explode(hash_rows).alias("hb"), "cnt")
        .groupBy(F.col("hb.h").alias("h"), F.col("hb.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )
    est = (
        counts.select("term", "cnt", F.explode(hash_rows).alias("hb"))
        .join(F.broadcast(cm), (F.col("hb.h") == F.col("h")) & (F.col("hb.b") == F.col("b")))
        .groupBy("term", "cnt")
        .agg(F.min("c").alias("est"))
    )
    bad = est.where(F.col("est") < F.col("cnt")).count()
    assert bad == 0
    # and the sketch is genuinely lossy at this width: some single-row
    # bucket must hold >= 2 terms (at sf0.01 the min over 3 rows usually
    # still recovers exact counts — the estimator's job — but the rows
    # themselves must collide or the test is vacuous)
    colliding = (
        counts.select(F.explode(hash_rows).alias("hb"))
        .groupBy("hb.h", "hb.b")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .where(F.col("n_terms") >= 2)
        .count()
    )
    assert colliding > 0


def test_countmin_sketch_merges_across_corpus_halves(spark):
    """Mergeability — the property that makes the sketch deployable: the
    counter array built over the whole corpus equals the elementwise SUM
    of the arrays built over any disjoint split (here: even/odd doc_id).
    This is what Spark's partial aggregation exploits; assert it
    end-to-end rather than trusting the algebra."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.functions.portable import countmin_hash_rows
    from slr207_mapreduce_spark.plans.text import (
        _CM_DEPTH,
        _CM_SEED0,
        _CM_WIDTH,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_CORRECT)

    def sketch(df):
        toks = df.select(F.explode(F.split("text", " ")).alias("term")).where(
            F.length("term") > 0
        )
        rows = countmin_hash_rows(
            F.col("term"), depth=_CM_DEPTH, width=_CM_WIDTH, seed0=_CM_SEED0
        )
        return {
            (r["h"], r["b"]): r["c"]
            for r in toks.select(F.explode(rows).alias("hb"))
            .groupBy(F.col("hb.h").alias("h"), F.col("hb.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    whole = sketch(d)
    even = sketch(d.where(F.col("doc_id") % 2 == 0))
    odd = sketch(d.where(F.col("doc_id") % 2 == 1))
    merged: dict = {}
    for part in (even, odd):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_pps_sample_partition_invariant_and_weight_proportional(spark, qs):
    """The PPS sample must be a pure function of the data — identical
    under different parallelism (the prefix sum is the moving part) — and
    weight-proportional: total draws ~ k, and any doc heavier than the
    step is drawn at least once."""
    build = qs["pipeline_pps_systematic_sample"].build

    base = {
        (r["doc_id"], r["n_hits"]) for r in build(spark, SF_CORRECT).collect()
    }
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = {
            (r["doc_id"], r["n_hits"]) for r in build(spark, SF_CORRECT).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert alt == base

    rows = build(spark, SF_CORRECT).collect()
    total_hits = sum(r["n_hits"] for r in rows)
    # systematic sampling draws floor/ceil of k points depending on the
    # anchor's position in the final partial interval
    from slr207_mapreduce_spark.plans.pipeline import _PPS_K

    assert _PPS_K - 1 <= total_hits <= _PPS_K + 1
    import duckdb

    con = duckdb.connect()
    tot, mx = con.execute(
        f"SELECT SUM(n_chars), MAX(n_chars) FROM read_parquet('{SF_CORRECT}/documents.parquet')"
    ).fetchone()
    step = max(int(tot) // _PPS_K, 1)
    # every sampled doc's multiplicity is bounded by its weight
    for r in rows:
        assert r["n_hits"] <= r["wt"] // step + 1


def test_phash_banding_recovers_every_same_base_pair(spark, qs):
    """Pigeonhole recall: every same-base variant pair (the fixture's
    intended near-dups, measured hamming <= 4) must appear in the banded
    join's output — the LSH candidates may add cross-base accidents but
    can never MISS a pair under the hamming bound."""
    rows = qs["multimodal_phash_neardup"].build(spark, SF_CORRECT).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    n_docs = 500  # sf0.01 documents count
    expected_same_base = {
        (a, b)
        for g in range(0, n_docs, 4)
        for a in range(g, min(g + 4, n_docs))
        for b in range(a + 1, min(g + 4, n_docs))
    }
    missing = expected_same_base - got
    assert not missing, f"banding lost {len(missing)} same-base pairs"
    # all reported pairs honor the hamming bound
    assert all(0 <= r["hamming"] <= 6 for r in rows)


def test_dhash_kernel_matches_reference_bits():
    """The vectorized dHash kernel must equal a straightforward per-pixel
    reference on arbitrary images (including non-fixture shapes)."""
    import numpy as np

    from slr207_mapreduce_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.RandomState(11)
    for h, w in ((12, 16), (8, 8), (9, 13), (32, 24)):
        img = rng.randint(0, 256, (h, w, 3)).astype("uint8")
        # reference: explicit double loop over the 8x8 grid
        gray = (
            299 * img[:, :, 0].astype("int64")
            + 587 * img[:, :, 1].astype("int64")
            + 114 * img[:, :, 2].astype("int64")
        )
        ref = 0
        for i2 in range(8):
            for j2 in range(7):
                a = gray[(i2 * h) // 8][(j2 * w) // 8]
                b = gray[(i2 * h) // 8][((j2 + 1) * w) // 8]
                if a < b:
                    ref |= 1 << (i2 * 7 + j2)
        # kernel path: through the real codec round-trip
        decoded = decode_ppm(encode_ppm(img)).astype("int64")
        g2 = (
            299 * decoded[:, :, 0] + 587 * decoded[:, :, 1] + 114 * decoded[:, :, 2]
        )[(np.arange(8) * h) // 8][:, (np.arange(8) * w) // 8]
        bits = (g2[:, :7] < g2[:, 1:]).astype("int64")
        got = int((bits.reshape(-1) << np.arange(56)).sum())
        assert got == ref


def test_phash_fixture_cross_base_decorrelation():
    """The r11b fixture-defect regression guard: with the bilinear
    (product-of-two-linear-forms) pixel mix, accidental CROSS-base
    near-pairs must stay a small fraction of the designed same-base
    pairs — the first-cut single-form mix put 22x more accidental than
    designed pairs at 50k docs and chained a giant duplicate component
    (COVERAGE.md round-11b). Checked on a numpy mirror of the synth +
    dHash + banding at 4k docs (fast; the full decode path parity is
    covered by the oracle-equality tests)."""
    import numpy as np
    from collections import defaultdict
    from itertools import combinations

    P = 65521
    N = 4000
    d = np.arange(N, dtype=np.int64)
    base = d - d % 4
    v = d % 4
    bb = (base % P)[:, None]
    cell = np.arange(12 * 16, dtype=np.int64)[None, :]
    r = (bb * 131 + cell * 151 + 11) * (bb * 313 + cell * 211 + 29) % P % 256
    g = (bb * 173 + cell * 59 + 47) * (bb * 419 + cell * 101 + 7) % P % 256
    b = (bb * 233 + cell * 241 + 91) * (bb * 523 + cell * 37 + 3) % P % 256
    r, g = r.copy(), g.copy()
    for vv in (1, 2, 3):
        sel = v == vv
        r[sel, 0 * 16 + (vv * 3 - 2)] = (r[sel, 0 * 16 + (vv * 3 - 2)] + 128) % 256
        g[sel, 1 * 16 + (vv * 3 - 1)] = (g[sel, 1 * 16 + (vv * 3 - 1)] + 128) % 256
    gray = (299 * r + 587 * g + 114 * b).reshape(N, 12, 16)
    yi = (np.arange(8) * 12) // 8
    xi = (np.arange(8) * 16) // 8
    g2 = gray[:, yi][:, :, xi]
    bits = (g2[:, :, :7] < g2[:, :, 1:]).astype(np.int64)
    hs = (bits.reshape(N, 56) << np.arange(56)).sum(axis=1)

    buckets = defaultdict(list)
    for i, h in enumerate(hs):
        for band in range(7):
            buckets[(band, (int(h) >> (8 * band)) & 255)].append(i)
    seen, same, accidental = set(), 0, 0
    for members in buckets.values():
        for a, c in combinations(members, 2):
            if (a, c) in seen:
                continue
            seen.add((a, c))
            if bin(int(hs[a]) ^ int(hs[c])).count("1") <= 6:
                if a // 4 == c // 4:
                    same += 1
                else:
                    accidental += 1
    designed = N // 4 * 6
    assert same == designed, f"lost designed pairs: {same}/{designed}"
    assert accidental < 0.05 * designed, (
        f"cross-base decorrelation regressed: {accidental} accidental vs "
        f"{designed} designed near-pairs"
    )
