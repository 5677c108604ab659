"""Long-document scale pressure (VERDICT r3 next-round item #3).

The sf corpora cap documents at ~100 tokens, so the multi-chunk / fan-out /
prefix-sum branches of the long-doc operators — chunking
(plans/pipeline.py), packing (operators/ids.py::with_running_total), the
Gopher repetition gate, and MinHash LSH — had oracle pressure only from the
short-doc regime. This module builds a deterministic synthetic corpus with
SKEWED lengths (5 .. 100k tokens/doc, chunk-boundary edge lengths, embedded
near-duplicate pairs and pathologically repetitive docs) and re-runs the
REGISTERED queries against their own registered DuckDB oracles over that
corpus — the same comparator as tools/check.py, pointed at long docs.
"""

from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

# Token lengths chosen to pressure specific branches:
#  - < 3: repetition-gate exclusion branch (needs >= 3 tokens)
#  - 255/256/257: CHUNK_TOKENS boundary (1 chunk vs 2)
#  - 448/449: second chunk exactly full vs spilling a third
#    (n_chunks = 1 + ceil((n - 256) / 192))
#  - 10_000 / 40_000 / 100_000: deep multi-chunk fan-out and prefix sums
#    large enough that pack_id spans many 2048-token packs
LENGTHS = [
    5, 50, 255, 256, 257, 300, 448, 449, 450, 640, 641,
    1_000, 2_047, 2_048, 2_049, 3_000, 5_000, 8_000,
    10_000, 15_000, 25_000, 40_000, 60_000, 100_000,
]


def _make_doc(rng: random.Random, n_tok: int) -> str:
    # Zipf-ish vocabulary: small ids common, tail rare — realistic shingle
    # collision behavior for MinHash.
    toks = [f"w{int(rng.paretovariate(1.1)) % 5000}" for _ in range(n_tok)]
    return " ".join(toks)


def _perturb(rng: random.Random, text: str, edits: int) -> str:
    toks = text.split(" ")
    for _ in range(edits):
        toks[rng.randrange(len(toks))] = f"w{rng.randrange(5000)}"
    return " ".join(toks)


@pytest.fixture(scope="module")
def longdoc_dir(spark, tmp_path_factory):
    rng = random.Random(20260813)
    rows = []
    doc_id = 0
    for n in LENGTHS:
        text = _make_doc(rng, n)
        rows.append((doc_id, text, "en", f"src{doc_id % 4}", len(text)))
        doc_id += 1
        if n >= 1_000:
            # near-duplicate: same doc with ~0.1% token edits — MUST come
            # out of MinHash LSH as a high-jaccard candidate pair
            dup = _perturb(rng, text, max(1, n // 1000))
            rows.append((doc_id, dup, "en", f"src{doc_id % 4}", len(dup)))
            doc_id += 1
    # pathologically repetitive long docs (same paragraph looped): the
    # repetition gate must flag these, and their shingle sets are tiny
    # relative to their length (distinct-vs-multiset stress for MinHash)
    for n_rep, para_len in ((500, 40), (2_000, 97)):
        para = _make_doc(rng, para_len)
        text = " ".join([para] * n_rep)
        rows.append((doc_id, text, "en", f"src{doc_id % 4}", len(text)))
        doc_id += 1

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("longdoc"))
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    # single FILE (the /root/testdata layout both load_table and the DuckDB
    # view factory expect), not a Spark part-file directory
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return out


def _duck_for(sf_dir: str):
    from check import duck_con

    return duck_con(sf_dir)


LONGDOC_QUERIES = [
    "pipeline_chunk_documents",
    "pipeline_pack_sequences",
    "pipeline_repetition_filter",
    "pipeline_global_shuffle",
    "pipeline_assign_ids",
    "dedup_minhash_signatures",
    "dedup_minhash_lsh",
    "dedup_substring_spans",
    "dedup_substring_span_positions",
    "dedup_exact",
    "text_token_count",
    # round-4 batch 2: both are O(tokens) per doc and must stay that way
    "dedup_cdc_chunks",
    "text_lm_score",
    "pipeline_bloom_membership",
    # round-4 batch 3: candidate-pair verification + scan-stage scoring
    "dedup_minhash_estimator_error",
    "text_trigram_novelty",
    "text_bpe_apply",
]


@pytest.mark.parametrize("qname", LONGDOC_QUERIES)
@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_longdoc_query_matches_oracle(spark, longdoc_dir, qname):
    from check import compare

    from slr207_mapreduce_spark.plans.base import all_queries

    spec = all_queries()[qname]
    assert spec.oracle is not None
    spark_pdf = spec.build(spark, longdoc_dir).toPandas()
    duck = _duck_for(longdoc_dir)
    try:
        duck_pdf = duck.execute(spec.oracle).df()
    finally:
        duck.close()
    problems = compare(spark_pdf, duck_pdf)
    assert not problems, f"{qname} on long docs: {problems[:5]}"


def test_longdoc_branches_actually_exercised(spark, longdoc_dir):
    """The corpus must genuinely hit the branches this module exists for —
    otherwise a future fixture edit could silently collapse it back to the
    short-doc regime."""
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.plans.base import all_queries

    qs = all_queries()

    chunks = (
        qs["pipeline_chunk_documents"]
        .build(spark, longdoc_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.max("n_chunk_tok").alias("mx"))
    )
    per_doc = {r["doc_id"]: r["n"] for r in chunks.collect()}
    assert max(per_doc.values()) >= 500  # 100k-token doc → ~520 chunks
    assert sum(1 for n in per_doc.values() if n > 1) >= 20

    packs = qs["pipeline_pack_sequences"].build(spark, longdoc_dir)
    # pack_id is where each doc STARTS (exclusive prefix sum // 2048), so
    # distinct ids are bounded by doc count; the long-doc pressure is the
    # RANGE — ~764k corpus tokens must span hundreds of 2048-token packs,
    # which only happens when the prefix sum crosses many boundaries
    row = packs.agg(
        F.max("pack_id").alias("mx"), F.countDistinct("pack_id").alias("nd")
    ).collect()[0]
    # last doc starts at total_tokens - its own 194k tokens = ~570k -> 278
    assert row["mx"] >= 250
    assert row["nd"] >= 20

    rep = qs["pipeline_repetition_filter"].build(spark, longdoc_dir)
    flagged = rep.where(F.col("flag_repetitive")).count()
    assert flagged >= 2  # the looped-paragraph docs

    pairs = qs["dedup_minhash_lsh"].build(spark, longdoc_dir)
    strong = pairs.where(F.col("est_jaccard") >= 0.5).count()
    assert strong >= 5  # the embedded near-duplicate long-doc pairs


def test_chunk_oracle_property_matches_naive_python():
    """The chunking oracle was rewritten from per-chunk list_slice to
    position-arithmetic token assignment (O(tokens)); this sweep checks the
    ORACLE itself against naive Python slicing on random token counts —
    independent semantics, so Spark↔oracle agreement can't hide a shared
    misunderstanding of the boundary arithmetic."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.plans.pipeline import CHUNK_STRIDE, CHUNK_TOKENS

    oracle = all_queries()["pipeline_chunk_documents"].oracle

    def naive(tokens):
        n = len(tokens)
        if n <= CHUNK_TOKENS:
            n_chunks = 1
        else:
            n_chunks = 1 + -(-(n - CHUNK_TOKENS) // CHUNK_STRIDE)
        out = []
        for i in range(n_chunks):
            chunk = tokens[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
            out.append((i, i * CHUNK_STRIDE, len(chunk), " ".join(chunk)))
        return out

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=1200),  # token counts per doc
            min_size=1,
            max_size=6,
        )
    )
    def prop(counts):
        docs = [
            (i, " ".join(f"t{i}_{j}" for j in range(c))) for i, c in enumerate(counts)
        ]
        con = duckdb.connect()
        try:
            vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) "
                "AS v(doc_id, text)"
            )
            got = {}
            for doc_id, idx, start, ntok, text in con.execute(
                "SELECT doc_id, chunk_idx, chunk_start, n_chunk_tok, chunk_text "
                f"FROM ({oracle})"
            ).fetchall():
                got.setdefault(doc_id, []).append((idx, start, ntok, text))
            for doc_id, t in docs:
                tokens = [x for x in t.split(" ") if x]
                want = naive(tokens)
                assert sorted(got.get(doc_id, [])) == want, (doc_id, len(tokens))
        finally:
            con.close()

    prop()


def test_longdoc_timed_budget(spark):
    """Round-5 verdict item #9: hard regression tripwire for the O(tokens)
    guarantees. The chunk/pack/minhash/CDC/BPE set must each finish on the
    100k-token corpus within a GENEROUS per-query budget (20 s warm on
    local[32]; steady-state is well under 2 s, so only a complexity-class
    regression — an accidental O(tokens^2) explode or pair blow-up — can
    trip this). bench.py's "longdoc" section records the actual timings
    per round."""
    import sys
    import time

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.make_sf import ensure_longdoc

    from slr207_mapreduce_spark.plans.base import all_queries

    ld_dir = ensure_longdoc(os.path.join(os.path.dirname(__file__), ".."))
    specs = all_queries()
    names = [
        "pipeline_chunk_documents",
        "pipeline_pack_sequences",
        "dedup_minhash_lsh",
        "dedup_cdc_chunks",
        "text_bpe_apply",
        "text_lm_score",
    ]
    BUDGET_S = 20.0
    times = {}
    for name in names:
        df = specs[name].build(spark, ld_dir)
        df.write.mode("overwrite").format("noop").save()  # warm
        t0 = time.perf_counter()
        specs[name].build(spark, ld_dir).write.mode("overwrite").format("noop").save()
        times[name] = time.perf_counter() - t0
        assert times[name] < BUDGET_S, (
            f"{name} took {times[name]:.1f}s on the 100k-token corpus — "
            f"O(tokens) guarantee regressed (budget {BUDGET_S}s)"
        )
    print("\nlongdoc timed tier:", {k: round(v, 2) for k, v in times.items()})
