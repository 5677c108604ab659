"""Semantics and plan pins for the training-data-pipeline family
(plans/pipeline_queries.py). Values are oracle-checked by test_oracle.py;
these pin the properties the hash gate can't see: determinism across runs,
cap/fraction invariants, contamination ground truth, and the
stateless-vs-window scale split.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE


def _plan(df, mode: str = "simple") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _specs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()


def test_domain_cap_bounds_every_source(spark):
    out = _specs()["pipeline_domain_cap"].build(spark, SF_CORRECT)
    per_source = out.groupBy("source").count().collect()
    assert per_source and all(r["count"] <= 5 for r in per_source)


def test_fractional_sample_is_stateless_and_deterministic(spark):
    """The scale-path sampler: no shuffle before the output sort, and the
    same rows on every run (no rand())."""
    spec = _specs()["pipeline_fractional_sample"]
    df = spec.build(spark, SF_CORRECT)
    a = [r["doc_id"] for r in df.collect()]
    b = [r["doc_id"] for r in spec.build(spark, SF_CORRECT).collect()]
    assert a == b and len(a) > 0
    # drop the presentation orderBy: the sampling itself must be a pure map
    d = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    from slr207_mapreduce_spark.plans.pipeline_queries import _doc_bucket

    core = d.where(_doc_bucket() < 10).select("doc_id")
    assert "Exchange" not in _plan(core)


def test_split_partitions_the_corpus_exactly(spark):
    out = _specs()["pipeline_train_split"].build(spark, SF_CORRECT).collect()
    total = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").count()
    assert sum(r["n_docs"] for r in out) == total  # no doc lost or duplicated
    assert {r["split"] for r in out} == {"train", "val", "test"}
    by = {r["split"]: r["n_docs"] for r in out}
    assert by["train"] > by["val"] and by["train"] > by["test"]


def test_mixture_downweights_dominant_language(spark):
    kept = {
        r["lang"]: r["n_kept"]
        for r in _specs()["pipeline_mixture_reweight"].build(spark, SF_CORRECT).collect()
    }
    raw = {
        r["lang"]: r["count"]
        for r in spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .groupBy("lang")
        .count()
        .collect()
    }
    assert all(kept[lg] <= raw[lg] for lg in kept)
    # en is halved, the tail is barely touched → kept share must drop for en
    assert kept["en"] / raw["en"] < kept["de"] / raw["de"]


def test_decontaminate_flags_planted_duplicate(spark, tmp_path):
    """Ground truth on a synthetic corpus: a doc sharing a 5-gram with a
    benchmark doc is flagged; a disjoint doc is not."""
    rows = [
        (0, "a b c d e f g", "en", "s0", 13),      # benchmark (0 % 37 == 0)
        (1, "x a b c d e y", "en", "s1", 13),      # shares 5-gram "a b c d e"
        (2, "p q r s t u v", "en", "s2", 13),      # disjoint
        (3, "one two three", "en", "s3", 13),      # too short for a 5-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r["contaminated"]
        for r in _specs()["pipeline_decontaminate"].build(spark, str(tmp_path)).collect()
    }
    assert out == {1: True, 2: False, 3: False}


def test_decontaminate_broadcasts_benchmark_side(spark):
    plan = _plan(_specs()["pipeline_decontaminate"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_quality_quantile_keeps_upper_half(spark):
    out = _specs()["pipeline_quality_quantile"].build(spark, SF_CORRECT)
    d = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    n = d.count()
    kept = out.count()
    assert n / 2 <= kept <= n  # >= median keeps at least half
    min_kept = out.agg(F.min("n_chars")).collect()[0][0]
    dropped_max = (
        d.join(out.select("doc_id"), "doc_id", "left_anti")
        .agg(F.max("n_chars"))
        .collect()[0][0]
    )
    assert dropped_max is None or dropped_max <= min_kept


def test_fuzzy_pairs_block_and_distance_invariants(spark):
    rows = _specs()["pipeline_fuzzy_name_pairs"].build(spark, SF_CORRECT).collect()
    assert rows, "corpus should contain near-identical part names"
    for r in rows:
        assert r["name_a"][0] == r["name_b"][0]  # blocking key respected
        assert 1 <= r["edit_dist"] <= 3          # a < b excludes dist 0
        assert r["name_a"] < r["name_b"]


def test_retention_cohort_offsets(spark):
    out = _specs()["events_retention_cohort"].build(spark, SF_CORRECT).collect()
    assert all(r["day_offset"] >= 0 for r in out)  # nobody active before first seen
    # offset-0 row of each cohort counts exactly the cohort's members
    n_users = (
        spark.read.parquet(f"{SF_CORRECT}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    day0 = sum(r["n_active_users"] for r in out if r["day_offset"] == 0)
    assert day0 == n_users


def _soundex_py(w: str) -> str:
    """Independent Russell soundex (the classic algorithm, public domain):
    first letter + 3 digits, consecutive-duplicate codes collapsed, H/W
    transparent between identical codes, vowels reset the run."""
    codes = {
        **dict.fromkeys("BFPV", "1"),
        **dict.fromkeys("CGJKQSXZ", "2"),
        **dict.fromkeys("DT", "3"),
        "L": "4",
        **dict.fromkeys("MN", "5"),
        "R": "6",
    }
    w = "".join(ch for ch in w.upper() if ch.isalpha())
    if not w:
        return ""
    out = w[0]
    prev = codes.get(w[0], "")
    for ch in w[1:]:
        code = codes.get(ch, "")
        if ch in "HW":
            continue  # transparent: does not reset the previous code
        if code and code != prev:
            out += code
            if len(out) == 4:
                break
        prev = code
    return (out + "000")[:4]


def test_soundex_matches_independent_python_implementation(spark):
    """Spark's soundex() vs a from-scratch Russell soundex over every
    distinct part-name head word — the exactness gate for the phonetic
    blocking key (DuckDB has no soundex, so the query is rows-only)."""
    import pyspark.sql.functions as F
    from tests.conftest import SF_CORRECT
    from slr207_mapreduce_spark.sources.tables import load_table

    words = (
        load_table(spark, "part", SF_CORRECT)
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
    )
    got = {r.w: r.code for r in words.select("w", F.soundex("w").alias("code")).collect()}
    # the synthetic part fixture has a small adjective+noun vocabulary;
    # every word of it must still code identically
    assert len(got) >= 10
    for w, code in got.items():
        assert code == _soundex_py(w), f"soundex({w!r}): spark={code} py={_soundex_py(w)}"


def test_phonetic_blocking_pairs_recomputed_in_pandas(spark):
    """The blocked-pair relation itself, recomputed naively (all pairs of
    same-soundex words) with a from-scratch edit-distance DP — pins the
    join semantics end to end."""
    from tests.conftest import SF_CORRECT
    from slr207_mapreduce_spark.plans.base import all_queries

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = all_queries()["pipeline_phonetic_blocking"].build(spark, SF_CORRECT).collect()
    got = {(r.code, r.word_a, r.word_b, r.edit_dist) for r in out}

    import collections

    import pyspark.sql.functions as F
    from slr207_mapreduce_spark.sources.tables import load_table

    words = (
        load_table(spark, "part", SF_CORRECT)
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
        .collect()
    )
    blocks = collections.defaultdict(list)
    for r in words:
        blocks[_soundex_py(r.w)].append(r.w)
    want = set()
    for code, ws in blocks.items():
        ws.sort()
        for i in range(len(ws)):
            for j in range(i + 1, len(ws)):
                want.add((code, ws[i], ws[j], lev(ws[i], ws[j])))
    assert got == want and len(want) > 0


def test_assign_ids_dense_unique_and_partition_invariant(spark):
    """The two-pass id assigner mints exactly 0..N-1 (dense, unique) and
    the ids equal the global rank regardless of partition count — the
    property that lets a 1000-executor run reproduce the oracle."""
    from tests.conftest import SF_CORRECT
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids
    from slr207_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_CORRECT).select("doc_id", "source")
    n = d.count()
    for parts in (3, 17):
        out = assign_sequential_ids(d, order_by=["source", "doc_id"], num_partitions=parts)
        rows = out.collect()
        ids = sorted(r.seq_id for r in rows)
        assert ids == list(range(n))
        by_key = {(r.source, r.doc_id): r.seq_id for r in rows}
        ordered = sorted(by_key)
        assert [by_key[k] for k in ordered] == list(range(n))


def test_assign_ids_pass_runs_no_python_worker(spark):
    """The id pass is one JVM projection over the frozen layout: the
    executed plan holds no Python map or eval node."""
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    out = assign_sequential_ids(spark.range(100), order_by=["id"], num_partitions=4)
    assert [r.seq_id for r in out.orderBy("id").collect()] == list(range(100))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, plan


@pytest.mark.parametrize(
    "n_rows,parts,key",
    [
        (5, 32, "asc"),  # most range partitions are empty
        (25_000, 2, "asc"),  # a partition spans several Arrow batches (10,000 rows)
        (1_000, 7, "desc"),  # Column sort key
    ],
)
def test_assign_ids_equal_python_rank(spark, n_rows, parts, key):
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    d = spark.range(n_rows).select((F.col("id") * 7919 % n_rows).alias("k"))
    order = [F.desc("k")] if key == "desc" else ["k"]
    rows = assign_sequential_ids(d, order_by=order, num_partitions=parts).collect()
    ranked = sorted((r.k for r in rows), reverse=key == "desc")
    assert {r.k: r.seq_id for r in rows} == {k: i for i, k in enumerate(ranked)}


def test_assign_ids_rejects_partition_over_ordinal_width(spark, monkeypatch):
    """A partition holding 2^_ORDINAL_BITS rows or more would overflow the
    ordinal into the partition bits; the driver raises before any id is
    minted. Patched down to 2 bits (4 rows) so the check is testable."""
    from slr207_mapreduce_spark.operators import ids

    monkeypatch.setattr(ids, "_ORDINAL_BITS", 2)
    ok = ids.assign_sequential_ids(spark.range(3), order_by=["id"], num_partitions=1)
    assert sorted(r.seq_id for r in ok.collect()) == [0, 1, 2]
    with pytest.raises(ValueError, match="partition 0 holds 4 rows"):
        ids.assign_sequential_ids(spark.range(4), order_by=["id"], num_partitions=1)


def test_assign_ids_guard_fails_off_frozen_partitions(spark, monkeypatch):
    """Evaluated above a coalesce, the ordinal no longer counts rows of
    the frozen partition its offset belongs to; the per-row guard fails
    the query instead of minting colliding ids."""
    from pyspark.errors import PySparkException

    from slr207_mapreduce_spark.operators import ids

    frozen_prefix = ids._frozen_prefix

    def coalesced(*args):
        frozen, sizes, offsets = frozen_prefix(*args)
        return frozen.coalesce(1), sizes, offsets

    monkeypatch.setattr(ids, "_frozen_prefix", coalesced)
    out = ids.assign_sequential_ids(spark.range(100), order_by=["id"], num_partitions=4)
    with pytest.raises(PySparkException, match="frozen partition"):
        out.collect()


def test_running_total_partition_invariant(spark):
    """with_running_total equals the single-task global-window prefix sum
    at any partition count."""
    import pyspark.sql.functions as F
    from tests.conftest import SF_CORRECT
    from slr207_mapreduce_spark.operators.ids import with_running_total
    from slr207_mapreduce_spark.operators.text import tokens_ws
    from slr207_mapreduce_spark.sources.tables import load_table

    d = load_table(spark, "documents", SF_CORRECT).select(
        "doc_id", F.size(tokens_ws("text")).cast("long").alias("n_tok")
    )
    rows = sorted(d.collect(), key=lambda r: r.doc_id)
    want, acc = {}, 0
    for r in rows:
        want[r.doc_id] = acc
        acc += r.n_tok
    for parts in (2, 13):
        out = with_running_total(
            d, order_by=["doc_id"], value_col="n_tok",
            out_col="tok_before", num_partitions=parts,
        ).collect()
        assert {r.doc_id: r.tok_before for r in out} == want


def test_chunk_documents_overlap_boundaries(spark):
    """Boundary math on synthetic docs whose token counts straddle the
    256-window / 192-stride edges (the sf corpora are all single-chunk,
    so the oracle gate never exercises multi-chunk fan-out)."""
    from slr207_mapreduce_spark.plans.pipeline_r3 import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        pipeline_chunk_documents,
    )
    import tempfile, os

    cases = {  # n_tok -> expected chunk count
        0: 1, 1: 1, CHUNK_TOKENS: 1, CHUNK_TOKENS + 1: 2,
        CHUNK_TOKENS + CHUNK_STRIDE: 2, CHUNK_TOKENS + CHUNK_STRIDE + 1: 3,
        1000: 1 + -(-(1000 - CHUNK_TOKENS) // CHUNK_STRIDE),
    }
    rows = [
        (i, " ".join(f"t{j}" for j in range(n)), "en", "synt", n)
        for i, n in enumerate(cases)
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = pipeline_chunk_documents(spark, td).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(cases):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert len(chunks) == cases[n], (n, len(chunks))
        # full coverage: last chunk reaches the end; overlap = window-stride
        assert chunks[-1].chunk_start + chunks[-1].n_chunk_tok == n or n == 0
        for a, b in zip(chunks, chunks[1:]):
            assert b.chunk_start - a.chunk_start == CHUNK_STRIDE
            assert a.n_chunk_tok == CHUNK_TOKENS  # only the last may be short
        # chunk text is the real token slice
        if n:
            assert (chunks[0].chunk_text + " ").startswith("t0 ")


def test_global_shuffle_deterministic_and_dense(spark):
    from tests.conftest import SF_CORRECT

    spec = _specs()["pipeline_global_shuffle"]
    a = spec.build(spark, SF_CORRECT).collect()
    b = spec.build(spark, SF_CORRECT).collect()
    assert sorted(r.seq_id for r in a) == list(range(len(a)))
    assert {(r.doc_id, r.seq_id) for r in a} == {(r.doc_id, r.seq_id) for r in b}
    # the permutation actually permutes (not identity order)
    by_seq = [r.doc_id for r in sorted(a, key=lambda r: r.seq_id)]
    assert by_seq != sorted(by_seq)


def test_soundex_sql_property_matches_python():
    """Property test: the DuckDB SQL soundex powering the phonetic-blocking
    oracle (pipeline_r2.soundex_coded_cte_sql) agrees with the independent
    Python Russell soundex on arbitrary lowercase words — not just the
    part-name vocabulary. Spark's soundex is pinned against the same Python
    implementation above, so all three implementations agree transitively."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from slr207_mapreduce_spark.plans.pipeline_r2 import soundex_coded_cte_sql

    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=15),
            min_size=1,
            max_size=20,
            unique=True,
        )
    )
    def prop(words):
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        sql = (
            f"WITH words AS (SELECT unnest({arr}) AS w),"
            f"{soundex_coded_cte_sql('words')}"
            "SELECT w, code FROM coded"
        )
        got = dict(con.execute(sql).fetchall())
        for w in words:
            assert got[w] == _soundex_py(w), (w, got[w], _soundex_py(w))

    prop()
    con.close()
