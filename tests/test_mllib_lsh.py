"""MLlib MinHashLSH validated against the exact operator."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_mllib_minhash_candidates_are_similar_docs(spark):
    from slr207_mapreduce_spark.operators.dedup import ngram_jaccard_pairs
    from slr207_mapreduce_spark.operators.mllib_lsh import minhash_neardup_pairs_ml
    from slr207_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF_SMOKE)
    got = minhash_neardup_pairs_ml(docs, jaccard_distance_threshold=0.6).collect()
    assert len(got) > 0
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    # MLlib's jaccard_distance = 1 - true jaccard on the shingle sets; they
    # must agree (HashingTF at 2^18 features: collisions negligible on this
    # vocabulary).
    for r in got:
        true_j = exact.get((r["doc_a"], r["doc_b"]), 0.0)
        assert abs((1.0 - r["jaccard_distance"]) - true_j) < 0.05, (
            r["doc_a"],
            r["doc_b"],
            r["jaccard_distance"],
            true_j,
        )
    # Quality bounds vs the exact operator (VERDICT r3 item #7), both ways:
    # precision — every reported candidate clears the distance threshold
    # against TRUE jaccard with only the hash-collision slack; recall —
    # every truly-similar pair well inside the threshold is found (8 hash
    # tables at jaccard >= 0.5 miss with prob (1 - j)^8 <= 0.4%, so a miss
    # here is a bug, not bad luck).
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    for pair, true_j in exact.items():
        if true_j >= 0.5:
            assert pair in got_pairs, (pair, true_j, "missed by MLlib LSH")
    for r in got:
        true_j = exact.get((r["doc_a"], r["doc_b"]), 0.0)
        assert true_j >= (1.0 - 0.6) - 0.05, (
            "candidate below threshold by more than collision slack",
            r["doc_a"],
            r["doc_b"],
            true_j,
        )
