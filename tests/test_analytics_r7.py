"""Round-13 additions: SemDeDup recall audit + materialized crossmodal
closure (VERDICT r12 items 4 and 8) and the exact all-pairs kernel they
share."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tests.conftest import SF_SMOKE


def _np_exact_pairs(mat, ids, tau):
    """Naive float64 reference: all (a<b) cosine pairs at >= tau, with the
    same sequential-fold accumulation the engine kernel uses."""
    import numpy as np

    n, d = mat.shape
    dots = np.zeros((n, n))
    for j in range(d):
        dots += mat[:, j : j + 1] * mat.T[j : j + 1, :]
    acc = np.zeros(n)
    for j in range(d):
        acc += mat[:, j] * mat[:, j]
    nrm = np.sqrt(acc)
    valid = np.isfinite(nrm) & (nrm > 0)
    safe = np.where(valid, nrm, 1.0)
    cos = dots / (safe[:, None] * safe[None, :])
    ia, ib = np.where(
        (ids[:, None] < ids[None, :])
        & valid[:, None]
        & valid[None, :]
        & (cos >= tau)
    )
    return {(int(ids[a]), int(ids[b]), float(cos[a, b])) for a, b in zip(ia, ib)}


def test_cosine_pairs_exact_matches_numpy_and_excludes_invalid(spark):
    """The Arrow-batched all-pairs kernel must (a) agree bit-for-bit with
    the sequential-fold numpy reference, (b) exclude zero-norm and
    NaN/Inf-component vectors from pairing by the family contract, and
    (c) reject corpora beyond max_rows instead of truncating."""
    import numpy as np

    from slr207_mapreduce_spark.operators.similarity import cosine_pairs_exact

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),          # zero-norm: excluded
        (4, [float("nan"), 1.0, 0.0]),  # NaN component: excluded
        (5, [1.0, 0.05, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_pairs_exact(df, threshold=0.5).collect()
    }
    finite = [(i, v) for i, v in rows if i not in (3, 4)]
    mat = np.asarray([v for _, v in finite], dtype=np.float64)
    ids = np.asarray([i for i, _ in finite], dtype=np.int64)
    want = _np_exact_pairs(mat, ids, 0.5)
    assert got == want and len(got) >= 3  # 0-1, 0-5, 1-5 at least
    assert not any(3 in (a, b) or 4 in (a, b) for a, b, _ in got)
    with pytest.raises(ValueError, match="max_rows"):
        cosine_pairs_exact(df, threshold=0.5, max_rows=5).collect()


def test_semdedup_recall_report_is_internally_consistent(spark):
    """within + cross == exact per tau; recall in [0, 1] or NULL exactly
    when exact == 0; taus cover the shipped operator threshold."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.plans.dedup import _RECALL_TAUS, _SEMDEDUP_TAU

    assert _SEMDEDUP_TAU in _RECALL_TAUS
    rows = (
        all_queries()["semdedup_recall_report"].build(spark, SF_SMOKE).collect()
    )
    assert {r.tau for r in rows} <= set(float(t) for t in _RECALL_TAUS)
    for r in rows:
        assert r.within_cell_pairs + r.cross_cell_pairs == r.exact_pairs
        if r.exact_pairs == 0:
            assert r.recall is None
        else:
            assert 0.0 <= r.recall <= 1.0
            assert r.recall == r.within_cell_pairs / r.exact_pairs


@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_crossmodal_materialized_matches_from_raw(spark):
    """The write-then-close variant must produce BIT-IDENTICAL clusters to
    the query-from-raw closure (they share one oracle — this is the
    engine-side pin), and its staging write must be laid out partitioned
    by modality so a single-modality consumer gets partition pruning."""
    from slr207_mapreduce_spark.plans.pipeline import (
        _crossmodal_edges_path,
    )
    from slr207_mapreduce_spark.plans.base import all_queries

    specs = all_queries()
    raw = {
        (r.node, r.cluster_id)
        for r in specs["pipeline_crossmodal_dedup"].build(spark, SF_SMOKE).collect()
    }
    mat = {
        (r.node, r.cluster_id)
        for r in specs["pipeline_crossmodal_dedup_materialized"]
        .build(spark, SF_SMOKE)
        .collect()
    }
    assert mat == raw and len(mat) > 0
    path = _crossmodal_edges_path(SF_SMOKE)
    parts = {d for d in os.listdir(path) if d.startswith("modality=")}
    assert parts == {"modality=text", "modality=image", "modality=embedding"}


def test_knn_graph_dedup_consistency_and_semdedup_complement(spark):
    """Graph-based semantic dedup: the output is a valid dedup verdict
    (kept iff the node is its cluster's min id; every vector present
    exactly once; cluster ids are reachable min labels), and at the same
    tau it recovers at least as many duplicate drops as SemDeDup on the
    clustered fixture — the cross-cell pairs semdedup_recall_report
    showed SemDeDup structurally misses are exactly what the routed
    graph adds."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from tools.make_sf import ensure_emb_clustered

    specs = all_queries()
    d = ensure_emb_clustered(os.path.join(os.path.dirname(__file__), ".."), n=500, k=16)
    rows = specs["dedup_semantic_knn_graph"].build(spark, d).collect()
    assert len(rows) == 500 and len({r.vec_id for r in rows}) == 500
    clusters = {}
    for r in rows:
        assert r.cluster_id <= r.vec_id  # min-label: root never exceeds member
        assert r.kept == (r.vec_id == r.cluster_id)
        clusters.setdefault(r.cluster_id, []).append(r.vec_id)
    for root, members in clusters.items():
        assert min(members) == root
    graph_dropped = sum(1 for r in rows if not r.kept)
    sd = specs["dedup_semantic_semdedup"].build(spark, d).collect()
    sd_dropped = sum(1 for r in sd if not r.kept)
    assert graph_dropped >= sd_dropped > 0, (graph_dropped, sd_dropped)


def test_knn_graph_dedup_mutual_preserves_clustered_exactness(spark):
    """The over-merge control (r13 VERDICT item 2) must not cost
    anything where the plain closure is already right: on the clustered
    fixture within-component similarity (~0.85) clears the unambiguous
    tier (cos >= 0.6), so the controlled variant recovers EXACTLY the
    true mixture components (drops = n - k_true, the same figure as the
    plain closure), while by construction its edge set — hence its drop
    set — is a subset of the plain one (the property that stops
    near-noise over-merge; measured at sf1 in SCALE.md round-14:
    borderline edges survive only as reciprocal-best PAIRS, a matching
    that cannot chain)."""
    from slr207_mapreduce_spark.plans.base import all_queries
    from tools.make_sf import ensure_emb_clustered

    specs = all_queries()
    d = ensure_emb_clustered(
        os.path.join(os.path.dirname(__file__), ".."), n=500, k=16
    )
    plain = specs["dedup_semantic_knn_graph"].build(spark, d).collect()
    mutual = specs["dedup_semantic_knn_graph_mutual"].build(spark, d).collect()
    assert len(mutual) == 500 and len({r.vec_id for r in mutual}) == 500
    plain_drops = {r.vec_id for r in plain if not r.kept}
    mutual_drops = {r.vec_id for r in mutual if not r.kept}
    # exact recovery: 16 true components -> 500 - 16 drops, both variants
    assert len(plain_drops) == 500 - 16
    assert mutual_drops == plain_drops
    # structural verdict validity for the mutual variant
    for r in mutual:
        assert r.cluster_id <= r.vec_id
        assert r.kept == (r.vec_id == r.cluster_id)
