"""SemDeDup merge-dial decade measurement (SCALE.md round-15).

r14 VERDICT item 5: the merge dial's firing regime (over-segmented
clustered corpora) was only measured to n=2000; the decade tier
(emb_sf10) honestly merges NOTHING because replicated shell geometry
keeps centroid cosines under the 0.6 tier. This harness builds the
fixture the dial EXISTS for at decade scale — 200,000 rows from a
64-component deterministic mixture (fewer components than the 256-cell
auto dial, so k-means must split them) — and pins:

  * the dial FIRES: merged cell count < 256 (and lands near the true
    64 components);
  * recall recovers: within-cell recall of a SAMPLED exact pair
    reference (2,000 seeded rows x the full corpus — the exhaustive
    form of the semantic gate at nprobe = all cells, so the reference
    is exact-by-construction, no new kernel) rises from the plain
    cells' split-loss to >= 0.9 under the merged cells;
  * the merged dedup runs end-to-end at this scale (wall reported).

Near-noise robustness (the dial merging NOTHING on shell/replicated
tiers, output row-identical to plain SemDeDup) is pinned separately by
tests/test_analytics_r8.py and the r14 emb_sf10 row.

Usage: python tools/measure_merge_scale.py
Prints one JSON object; exits non-zero if an assertion fails.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = 200_000
N_COMPONENTS = 64
N_SAMPLE = 2_000
TAU = 0.4
SEED = 13


def main() -> int:
    import numpy as np
    from pyspark.sql import functions as F

    from slr207_mapreduce_spark.functions.portable import portable_hash64
    from slr207_mapreduce_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_train_centroids,
        merge_trained_cells,
        norm_f64,
    )
    from slr207_mapreduce_spark.plans.dedup import _SEMDEDUP_TAU
    from slr207_mapreduce_spark.session import get_session
    from slr207_mapreduce_spark.sources.tables import load_table
    from slr207_mapreduce_spark.streaming.ops import (
        streaming_semantic_gate_candidates,
    )
    from tools.make_sf import ensure_emb_clustered

    assert TAU == _SEMDEDUP_TAU
    spark = get_session()
    d = ensure_emb_clustered(REPO, n=N_ROWS, k=N_COMPONENTS)
    e = load_table(spark, "embeddings", d).cache()
    out: dict = {"n_rows": e.count(), "n_components": N_COMPONENTS}

    t0 = time.monotonic()
    cidx, cint = ivf_train_centroids(e)
    mcidx = merge_trained_cells(cidx, cint)
    out["train_merge_wall_sec"] = round(time.monotonic() - t0, 1)
    out["cells_plain"] = len(cidx)
    out["cells_merged"] = len(set(mcidx.tolist()))
    assert out["cells_merged"] < out["cells_plain"], out  # the dial FIRES

    # sampled exact pair reference: 2,000 seeded rows vs the FULL corpus
    # — the semantic gate probing EVERY cell is exhaustive, so the pair
    # set {(s, j): cos >= tau, j != s} is exact by construction
    nrm = norm_f64(F.col("embedding").cast("array<double>"))
    sample = (
        e.where((nrm > 0) & (nrm < F.lit(float("inf"))))
        .select(
            "vec_id", "embedding",
            portable_hash64(F.col("vec_id").cast("string"), SEED).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(N_SAMPLE)
        .select("vec_id", "embedding")
    )
    t0 = time.monotonic()
    pairs = streaming_semantic_gate_candidates(
        sample, e, tau=TAU, nprobe=len(cidx)
    ).where(F.col("store_id") != F.col("vec_id")).cache()
    out["exact_sampled_pairs"] = pairs.count()
    out["exact_reference_wall_sec"] = round(time.monotonic() - t0, 1)
    assert out["exact_sampled_pairs"] > 0

    cells = ivf_assign_cells(e, cidx, cint).cache()
    cmap = {int(c): int(m) for c, m in zip(cidx, mcidx)}
    mcol = F.create_map(
        *[F.lit(x) for kv in cmap.items() for x in kv]
    )[F.col("cidx")]
    ca = cells.select(
        F.col("vec_id").alias("vid_a"),
        F.col("cidx").alias("ca"),
        mcol.alias("ma"),
    )
    cb = cells.select(
        F.col("vec_id").alias("vid_b"),
        F.col("cidx").alias("cb"),
        mcol.alias("mb"),
    )
    tagged = (
        pairs.join(ca, pairs["vec_id"] == ca["vid_a"])
        .join(cb, pairs["store_id"] == cb["vid_b"])
        .select("ca", "ma", "cb", "mb")
        .cache()
    )
    total = tagged.count()
    within_plain = tagged.where(F.col("ca") == F.col("cb")).count()
    within_merged = tagged.where(F.col("ma") == F.col("mb")).count()
    out["recall_plain"] = round(within_plain / total, 3)
    out["recall_merged"] = round(within_merged / total, 3)
    assert out["recall_merged"] >= 0.9, out
    assert out["recall_merged"] > out["recall_plain"], out

    # the registered merged-dedup operator end-to-end at this scale
    from slr207_mapreduce_spark.plans.base import all_queries

    t0 = time.monotonic()
    verdicts = all_queries()["dedup_semantic_semdedup_merged"].build(spark, d)
    agg = verdicts.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("dropped"),
    ).collect()[0]
    out["merged_dedup_wall_sec"] = round(time.monotonic() - t0, 1)
    out["merged_dedup_rows"] = agg["rows"]
    out["merged_dedup_dropped"] = agg["dropped"]

    print(json.dumps(out, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
