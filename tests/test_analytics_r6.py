"""Round-12 additions: cross-modal dedup closure + count-min certification."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_crossmodal_dedup_merges_every_modality(spark):
    """The union-then-close run must honor every modality: any pair
    emitted by the text, image, or embedding near-dup detector ends up in
    the SAME cross-modal cluster — and the closure is genuinely
    cross-modal (its cluster count is at most any single modality's count
    over the same nodes, since the union can only add edges)."""
    from slr207_mapreduce_spark.operators.dedup import minhash_lsh_candidates
    from slr207_mapreduce_spark.operators.similarity import cosine_neardup_pairs
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.plans.multimodal import multimodal_phash_neardup
    from slr207_mapreduce_spark.sources.tables import load_table

    out = all_queries()["pipeline_crossmodal_dedup"].build(spark, SF_SMOKE)
    label = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert label, "no clusters at all"
    # canonical labels: every cluster_id is a member node's id, and the min
    assert all(label[cid] == cid for cid in set(label.values()))

    d = load_table(spark, "documents", SF_SMOKE)
    e = load_table(spark, "embeddings", SF_SMOKE)
    modalities = {
        "text": [
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(
                d, num_hashes=6, band_size=2, shingle_n=3
            ).collect()
        ],
        "image": [
            (r["doc_a"], r["doc_b"])
            for r in multimodal_phash_neardup(spark, SF_SMOKE).collect()
        ],
        "embedding": [
            (r["id_a"], r["id_b"])
            for r in cosine_neardup_pairs(e, threshold=0.2, bits=8).collect()
        ],
    }
    for mod, pairs in modalities.items():
        assert pairs, f"{mod} modality produced no edges — fixture too weak"
        for a, b in pairs:
            assert label[a] == label[b], f"{mod} pair ({a},{b}) split across clusters"

    # cross-modal merging is real: at least one cluster contains nodes
    # joined through two DIFFERENT modalities' edge sets
    from collections import defaultdict

    cluster_mods = defaultdict(set)
    for mod, pairs in modalities.items():
        for a, b in pairs:
            cluster_mods[label[a]].add(mod)
    assert any(len(m) >= 2 for m in cluster_mods.values()), (
        "no cluster spans two modalities — the union closure is vacuous "
        "on this fixture"
    )


def test_countmin_bounds_certificate_is_live(spark):
    """The depth-2 geometry must REALIZE violations (a certificate whose
    counter is always zero cannot catch a degraded hash family) while
    every geometry's bound holds; violations are monotone non-increasing
    in depth at fixed width (more rows -> min over more estimates)."""
    from slr207_mapreduce_spark.plans.base import all_queries

    rows = {
        r["estimator"]: r
        for r in all_queries()["estimator_countmin_bounds"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert set(rows) == {
        "countmin:d2w64",
        "countmin:d3w64",
        "countmin:d3w256",
        "countmin:d3w1024",
    }
    assert all(r["bound_held"] for r in rows.values())
    assert rows["countmin:d2w64"]["exact_value"] > 0, (
        "depth-2 geometry shows zero violations — the live counter the "
        "certificate exists for has gone vacuous (data or hash change?)"
    )
    assert rows["countmin:d3w64"]["exact_value"] <= rows["countmin:d2w64"]["exact_value"]


def test_kmeans_train_query_matches_operator_and_partitions(spark):
    """embedding_kmeans_train emits exactly the operator's trained grid
    components (the registered query IS the fit, not a re-derivation),
    cell sizes sum to the valid corpus, and k follows the bounded-k
    formula."""
    import numpy as np

    from slr207_mapreduce_spark.operators.similarity import (
        auto_ivf_centroids,
        ivf_train_centroids,
    )
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", SF_SMOKE)
    n = e.count()
    cidx, cint = ivf_train_centroids(e)
    out = all_queries()["embedding_kmeans_train"].build(spark, SF_SMOKE).collect()
    got = {(r["cidx"], r["dim"]): r["component_e6"] for r in out}
    assert len(got) == len(cidx) * cint.shape[1]
    for i, c in enumerate(cidx):
        for d in range(cint.shape[1]):
            assert got[(int(c), d + 1)] == int(cint[i, d])
    # one size per cell (repeated across its dim rows); cells partition
    # the valid corpus
    sizes = {r["cidx"]: r["cell_size"] for r in out}
    assert sum(sizes.values()) == n
    assert len(cidx) == auto_ivf_centroids(n)
    assert np.all(np.abs(cint) < 10**7)


def test_semdedup_drops_minority_within_cells_only(spark):
    """SemDeDup semantics: a minority of docs drop (live counter), every
    doc appears exactly once, and a dropped doc always has a smaller-id
    neighbor in ITS OWN cell at cosine >= tau (spot-verified on the
    smallest cells)."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.plans.dedup import _SEMDEDUP_TAU
    from slr207_mapreduce_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", SF_SMOKE)
    n = e.count()
    out = all_queries()["dedup_semantic_semdedup"].build(spark, SF_SMOKE).collect()
    assert len(out) == n and len({r["vec_id"] for r in out}) == n
    dropped = [r for r in out if not r["kept"]]
    assert 0 < len(dropped) < n // 2, f"{len(dropped)}/{n} dropped"

    # spot verify: recompute cosine for dropped docs in one small cell
    import numpy as np

    cell = dropped[0]["cidx"]
    members = sorted(r["vec_id"] for r in out if r["cidx"] == cell)
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in e.where(F.col("vec_id").isin(members)).collect()
    }

    def cos(a, b):
        return float(
            np.dot(vecs[a], vecs[b])
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        )

    # np.dot accumulates in a different order than the engine's
    # sequential fold, so a pair whose true cosine sits within float
    # noise of tau could disagree — skip those rows instead of asserting
    # through the noise band (r12 review; the exact verdicts are already
    # hash-checked against the DuckDB oracle, this is a semantics spot
    # check)
    checked = 0
    for r in out:
        if r["cidx"] != cell:
            continue
        smaller_cosines = [cos(m, r["vec_id"]) for m in members if m < r["vec_id"]]
        if any(abs(c - _SEMDEDUP_TAU) < 1e-6 for c in smaller_cosines):
            continue  # boundary pair: recompute order could flip the verdict
        has_smaller_neighbor = any(c >= _SEMDEDUP_TAU for c in smaller_cosines)
        assert (not r["kept"]) == has_smaller_neighbor, r
        checked += 1
    assert checked > 0, "every row in the cell was a boundary pair"


def test_pq_trained_codebooks_parity_and_determinism(spark):
    """The trained PQ codebook path (pq_train_codebooks, r12) must be
    bit-exact against its DuckDB replay and deterministic across runs —
    the capability contract for clustered corpora, even though the
    REGISTERED query stays seeded (measured: Lloyd means collapse toward
    the origin on this shell-distributed fixture and recall drops 0.46 →
    0.34 at sf0.01 — see the knn_pq_adc docstring)."""
    import duckdb
    import numpy as np

    from slr207_mapreduce_spark.operators.similarity import (
        knn_pq_adc,
        knn_pq_adc_sql,
        pq_train_codebooks,
    )
    from slr207_mapreduce_spark.sources.tables import load_table

    e = load_table(spark, "embeddings", SF_SMOKE)
    cidx, cint = pq_train_codebooks(e, m=8, sub_dim=8, ksub=16, iters=2)
    cidx2, cint2 = pq_train_codebooks(e, m=8, sub_dim=8, ksub=16, iters=2)
    assert np.array_equal(cint, cint2) and np.array_equal(cidx, cidx2)
    assert cint.shape == (8, 16, 8)
    assert (np.abs(cint) < 10**7).all()

    sp = (
        knn_pq_adc(
            e, e.where(F.col("vec_id") < 5), k=3, rerank=20, train_iters=2
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    du = (
        con.execute(
            knn_pq_adc_sql(
                k=3, m=8, sub_dim=8, ksub=16, rerank=20,
                query_pred="{col} < 5", train_iters=2,
            )
        )
        .df()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert sp.shape == du.shape
    assert (sp["neighbor_id"].values == du["neighbor_id"].values).all()
    assert (sp["cos_sim"].values == du["cos_sim"].values).all()


def test_countmin_streaming_defaults_track_shared_geometry():
    """streaming_countmin_counters' default geometry comes from the shared
    constants (r11 ADVICE item 2) — a one-sided batch change now breaks
    this import, not a silently-stale literal pair."""
    import inspect

    from slr207_mapreduce_spark.functions.portable import (
        COUNTMIN_EVENTS_DEPTH,
        COUNTMIN_EVENTS_WIDTH,
        COUNTMIN_SEED0,
    )
    from slr207_mapreduce_spark.plans import events
    from slr207_mapreduce_spark.streaming.ops import streaming_countmin_counters

    assert events._ECM_DEPTH is COUNTMIN_EVENTS_DEPTH
    assert events._ECM_WIDTH is COUNTMIN_EVENTS_WIDTH
    assert events._CM_SEED0 is COUNTMIN_SEED0
    sig = inspect.signature(streaming_countmin_counters)
    # None-defaults resolve to the shared constants inside the function
    assert sig.parameters["depth"].default is None
    assert sig.parameters["width"].default is None
    assert sig.parameters["seed0"].default is None
