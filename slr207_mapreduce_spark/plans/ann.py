"""Similarity-search queries over the embeddings table (``knn_*``,
``embedding_*``, ``retrieval_*``; operators in
slr207_mapreduce_spark/operators/similarity.py): exact and approximate
top-k, embedding profiling and projection, and hybrid retrieval.

Each approximate tier is exactness-oracled (DuckDB replays the approximate
algorithm bit-for-bit), and knn_recall_report measures every tier's
recall@k against knn_bruteforce's exact answer in one query. The recall
join/agg is exact even though the tier inputs are approximate, so the
whole report is fully oracled: its oracle composes each tier's oracle SQL
verbatim as a nested CTE, so the report can never drift from what the
per-tier queries compute. Tiers and their references:

- knn_lsh_bucketed / knn_ivf / knn_pq_adc / knn_ivf_pq / knn_jl_rerank:
  queries vec_id < 10, k = 5, corpus = all embeddings → reference is
  knn_bruteforce (same query set, same k).
- knn_quantized_int8: queries vec_id < 5, corpus vec_id >= 5, k = 3 →
  reference is exact f64-cosine top-3 over the SAME corpus split (the
  quantization-loss measurement).
- knn_graph_ivf: every row is a query, so the reference is a seeded md5
  row sample scored against knn_bruteforce's exact top-k.

Scale shape: each tier's own plan is the scale story (broadcast-bounded
small sides, banded candidates — see operators/similarity.py); the report
adds only |Q|·k-row joins and single-row aggregates on top. Projections
quantize components to 1e-6 fixed point BEFORE the signed sum, so they are
exact integer arithmetic — bit-identical at any parallelism and in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import portable_hash64, portable_hash64_sql
from slr207_mapreduce_spark.operators.similarity import (
    COSINE_SQL,
    auto_jl_shortlist,
    budget_doublings_sql,
    cosine,
    cosine_neardup_pairs,
    cosine_neardup_sql,
    knn_bruteforce,
    knn_bruteforce_sql,
    knn_graph_ivf,
    knn_graph_ivf_sql,
    knn_ivf,
    knn_ivf_pq,
    knn_ivf_pq_sql,
    knn_ivf_sql,
    knn_lsh_bucketed,
    knn_lsh_bucketed_sql,
    knn_pq_adc,
    knn_pq_adc_sql,
)
from slr207_mapreduce_spark.plans.base import Builder, register
from slr207_mapreduce_spark.plans.text import _BM25_ORACLE, text_bm25
from slr207_mapreduce_spark.sources.tables import load_table


_N_QUERIES = 10  # query set: vec_id < 10 (broadcast side)
KNN_K = 5  # top-k shared by the bruteforce-referenced tiers
# knn_quantized_int8's registered configuration (query/corpus split + k) —
# shared with knn_recall_report, which derives its denominators from here
# instead of duplicating literals (r10 ADVICE).
INT8_NQ = 5
INT8_K = 3


_BRUTEFORCE_ORACLE = knn_bruteforce_sql(k=KNN_K, query_pred=f"{{col}} < {_N_QUERIES}")


@register(
    "knn_bruteforce",
    oracle=_BRUTEFORCE_ORACLE,
    doc="Exact brute-force cosine top-5 for 10 query vectors: broadcast "
    "queries, one corpus scan, per-query top-k reduce. O(Q·N·d) — the ANN "
    "verifier / small-Q baseline.",
    tags=("similarity", "bench"),
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return knn_bruteforce(e, e.where(F.col("vec_id") < _N_QUERIES), k=KNN_K)


_LSH_ORACLE = knn_lsh_bucketed_sql(
    k=KNN_K, bits=6, tables="auto", probe_radius=1,
    query_pred=f"{{col}} < {_N_QUERIES}",
)


@register(
    "knn_lsh_bucketed",
    oracle=_LSH_ORACLE,
    doc="ANN top-5 via MULTI-PROBE multi-table sign-bit LSH (6 bits/table, "
    "OR-of-ANDs; each query also probes its Hamming-1 neighbor buckets — "
    "a deterministic XOR bit-flip expansion, Lv et al. VLDB'07): "
    "candidates meet through an equi-join on (table, bucket) — the scale "
    "path (shuffle ∝ bucket sizes, not N×Q). Multi-probe moved the recall "
    "budget from the CORPUS side (each table costs a full bucket-"
    "projection pass) to the |Q|-sized probe side: the table dial is 6 at "
    "the 500-vector anchor, +2 per doubling, capped 16 (r11 VERDICT item "
    "3 — the single-probe dial needed 28 tables at sf1, 12 of them "
    "duplicate dimension subsets at 4 bits). The oracle computes the same "
    "budget from COUNT(*) and unrolls the same probe masks. Recall "
    "audited by knn_recall_report: 0.88/0.96/1.00 at sf0.01/sf0.1/sf1 vs "
    "the single-probe dial's 0.80/0.88/0.98.",
    tags=("similarity",),
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return knn_lsh_bucketed(
        e, e.where(F.col("vec_id") < _N_QUERIES), k=KNN_K, bits=6,
        tables="auto", probe_radius=1,
    )


_IVF_ORACLE = knn_ivf_sql(
    k=KNN_K, nprobe="auto", n_centroids="auto",
    query_pred=f"{{col}} < {_N_QUERIES}",
)


@register(
    "knn_ivf",
    oracle=_IVF_ORACLE,
    doc="ANN top-5 via IVF with a TRAINED bounded-k coarse quantizer: "
    "deterministic fixed-point Lloyd's k-means (seeded md5 init, 2 "
    "argmin-join + grid-snapped-mean rounds; k = min(256, max(4, "
    "isqrt(N))) — O(sqrt N) cells with a hard 256 ceiling, r11 VERDICT "
    "item 2), nearest-centroid inverted lists, auto-scaled cell probe "
    "(6 cells at the 500-vector anchor, +5 per corpus doubling — "
    "operators/similarity.py:auto_ivf_nprobe), exact cosine re-rank "
    "inside the probed cells. The oracle replays the ENTIRE training in "
    "SQL (init, every iteration's integer sums and truncating division, "
    "the keep rules), so quantizer drift is a driver hash mismatch. The "
    "FAISS-IVF shape on DataFrames: centroids broadcast (assignment is "
    "a shuffle-free map), lists bucket by cell id for partition-pruned "
    "probes at scale. Recall audited by knn_recall_report.",
    tags=("similarity",),
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return knn_ivf(
        e, e.where(F.col("vec_id") < _N_QUERIES), k=KNN_K, nprobe="auto",
        n_centroids="auto",
    )


@register(
    "embedding_neardup_pairs",
    oracle=cosine_neardup_sql(threshold=0.2, bits=8),
    doc="Embedding-cosine near-dup pairs (cos ≥ 0.2) restricted to shared "
    "sign-bit buckets — the embedding-space analogue of MinHash LSH.",
    tags=("similarity", "dedup"),
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return cosine_neardup_pairs(e, threshold=0.2, bits=8)


@register(
    "embedding_normalize_quantize",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label,
             CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE vec_id < 200
    )
    SELECT vec_id, label,
           nrm AS l2_norm,
           CAST(floor(e[1] / nrm * 127) AS BIGINT) AS q0,
           CAST(floor(e[2] / nrm * 127) AS BIGINT) AS q1,
           array_to_string(list_transform(e, x -> CAST(floor(x / nrm * 127) AS BIGINT)), ',') AS quantized
    FROM norms
    """,
    doc="Vector preprocessing for multimodal/embedding pipelines: L2 "
    "normalization + int8-range quantization (floor(x/‖x‖·127)) — floor on "
    "deterministic IEEE products keeps the int codes engine-exact; output "
    "is the compressed representation an ANN index would store.",
    tags=("similarity", "multimodal"),
)
def q_embedding_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import norm_f64

    e = load_table(spark, "embeddings", sf_dir).where(F.col("vec_id") < 200)
    nrm = norm_f64(F.col("embedding"))
    qz = lambda x: F.floor(x / F.col("l2_norm") * 127).cast("long")  # noqa: E731
    return (
        e.select("vec_id", "label", F.col("embedding"), nrm.alias("l2_norm"))
        .select(
            "vec_id",
            "label",
            "l2_norm",
            qz(F.element_at("embedding", 1).cast("double")).alias("q0"),
            qz(F.element_at("embedding", 2).cast("double")).alias("q1"),
            F.array_join(
                F.transform(F.col("embedding"), lambda x: qz(x.cast("double"))), ","
            ).alias("quantized"),
        )
    )


@register(
    "embedding_centroid_by_label",
    oracle="""
    WITH comp AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(SUM(CAST(floor(x * 1e12) AS BIGINT)) AS BIGINT) AS sum_component_e12,
           COUNT(*) AS n_vectors
    FROM comp GROUP BY label, dim
    """,
    doc="Per-label component sums (centroid numerators): posexplode over the "
    "vector column, fixed-point 1e-12 quantization (IEEE multiply + floor "
    "are bit-deterministic in every engine; float→DECIMAL casts are NOT — "
    "Spark and DuckDB round the 12th digit differently), exact integer sum "
    "— the aggregation shape of a k-means/IVF training step.",
    tags=("similarity", "agg"),
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    comp = e.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),  # 1-based like ORDINALITY
        F.col("x").cast("double").alias("x"),
    )
    return comp.groupBy("label", "dim").agg(
        F.sum(F.floor(F.col("x") * F.lit(1e12)).cast("long"))
        .cast("long")
        .alias("sum_component_e12"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


_Q_CODES_SQL = """
    SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(floor(x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                       CAST(embedding AS DOUBLE[]))) * 127)
                       AS BIGINT)) AS codes
    FROM embeddings
"""


_INT8_ORACLE = f"""
    WITH codes AS ({_Q_CODES_SQL}),
    q AS (SELECT vec_id AS query_id, codes AS qc FROM codes WHERE vec_id < {INT8_NQ}),
    c AS (SELECT vec_id AS neighbor_id, codes AS cc FROM codes WHERE vec_id >= {INT8_NQ}),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(list_dot_product(CAST(qc AS DOUBLE[]), CAST(cc AS DOUBLE[])) AS BIGINT) AS iscore
      FROM q CROSS JOIN c
    ),
    ranked AS (
      SELECT query_id, neighbor_id, iscore,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY iscore DESC, neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, iscore, rank FROM ranked WHERE rank <= {INT8_K}
    """


@register(
    "knn_quantized_int8",
    oracle=_INT8_ORACLE,
    doc="Quantized (int8-code) top-k search: vectors L2-normalized and "
    "floor-quantized to [-127,127] integer codes (the compressed form an "
    "ANN index stores — 4x smaller than f32, SIMD-friendly integer dot "
    "products), then exact integer top-3 per query with deterministic "
    "tie-break. Integer scores are engine-exact by construction — the "
    "memory-bandwidth scale path when 100 TB of embeddings won't fit as "
    "f32. Queries broadcast; corpus scanned once, no corpus shuffle.",
    tags=("similarity", "quantization"),
)
def q_knn_quantized_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The pair scoring is one Arrow-batched mapInPandas pass emitting each
    # batch's LOCAL top-3 per query (r7 — the previous broadcast crossJoin
    # evaluated the integer-dot fold INTERPRETED over all N×|Q| pairs: an
    # 8.5 s single stage at sf1, and the rank exchange carried every
    # scored pair). Quantization mirrors the exact expression order
    # (x / nrm * 127, nrm = sequential-fold self-dot) so codes are
    # bit-identical to the oracle's; the dot is int64 — order-free.
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)

    def _codes(mat: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(mat.shape[0])
        for j in range(mat.shape[1]):
            acc += mat[:, j] * mat[:, j]
        nrm = np.sqrt(acc)
        return np.floor(mat / nrm[:, None] * 127).astype(np.int64)

    qrows = (
        e.where(F.col("vec_id") < INT8_NQ)
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
        .collect()
    )
    qids = np.asarray([r.vec_id for r in qrows], dtype=np.int64)
    qcodes = (
        _codes(np.asarray([r.v for r in qrows], dtype=np.float64))
        if qrows
        else np.zeros((0, 0), dtype=np.int64)
    )
    nq = len(qids)

    def score(batches):
        for pdf in batches:
            if nq == 0 or len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            ccodes = _codes(np.vstack(pdf["cvec"].to_numpy()).astype(np.float64))
            iscore = ccodes @ qcodes.T  # exact int64
            out_q, out_n, out_s = [], [], []
            for i in range(nq):
                top = np.lexsort((nid, -iscore[:, i]))[:INT8_K]
                out_q.extend([qids[i]] * len(top))
                out_n.extend(nid[top])
                out_s.extend(iscore[top, i])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "iscore": np.asarray(out_s, dtype=np.int64),
                }
            )

    local = (
        e.where(F.col("vec_id") >= INT8_NQ)
        .selectExpr("vec_id AS neighbor_id", "CAST(embedding AS array<double>) AS cvec")
        .mapInPandas(score, schema="query_id long, neighbor_id long, iscore long")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("iscore"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= INT8_K)
        .select("query_id", "neighbor_id", "iscore", "rank")
    )

_PQ_ADC_ORACLE = knn_pq_adc_sql(
    k=KNN_K, m=8, sub_dim=8, ksub=16, rerank="auto",
    query_pred=f"{{col}} < {_N_QUERIES}",
)


@register(
    "knn_pq_adc",
    oracle=_PQ_ADC_ORACLE,
    doc="ANN top-5 via product quantization + asymmetric distance (the "
    "FAISS-PQ shape): seeded per-subspace codebooks (8 subspaces x 16 "
    "centroids), corpus encoded to 8 codes by an argmin AGGREGATION "
    "(map-side combined — no window over the corpus), query LUT broadcast, "
    "ADC distance = integer sum of LUT hits (fixed-point nano-units -> "
    "order-independent), exact cosine re-rank of an auto-scaled shortlist "
    "(20 at the 500-vector anchor, +65 per corpus doubling — "
    "operators/similarity.py:auto_pq_rerank; the oracle computes the same "
    "budget from COUNT(*)). 64 f32 dims -> 8 bytes is the 32x compression "
    "that keeps a 100 TB corpus' index in memory. Recall audited by "
    "knn_recall_report.",
    tags=("similarity",),
)
def q_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return knn_pq_adc(
        e, e.where(F.col("vec_id") < _N_QUERIES), k=KNN_K, m=8, sub_dim=8,
        ksub=16, rerank="auto",
    )


_IVF_PQ_ORACLE = knn_ivf_pq_sql(
    k=KNN_K, nprobe="auto", m=8, sub_dim=8, ksub=16, rerank="auto",
    query_pred=f"{{col}} < {_N_QUERIES}",
)


@register(
    "knn_ivf_pq",
    oracle=_IVF_PQ_ORACLE,
    doc="IVF-PQ composed ANN top-5 — the standard billion-scale index "
    "shape (FAISS IndexIVFPQ), new in r13: the trained fixed-point coarse "
    "quantizer ROUTES each query to its auto-dialed nprobe cells, PQ-ADC "
    "integer LUT sums score ONLY the routed lists, and an exact cosine "
    "re-rank of the auto-scaled shortlist yields the top-k. The "
    "composition is what neither parent has alone: knn_ivf bounds the "
    "candidate set (nprobe/k of the corpus) but scores full-width "
    "vectors; knn_pq_adc bounds bytes-per-score (64 f32 dims -> 8 codes) "
    "but scans everything. One Arrow-batched corpus pass builds cells + "
    "codes with the routing mask applied in-batch; the oracle replays "
    "the ENTIRE index — quantizer training, probe ranking, codes, LUTs, "
    "routed ADC, re-rank. With nprobe >= n_centroids the output is "
    "bit-identical to knn_pq_adc (routing only prunes; pinned by test). "
    "Recall audited by knn_recall_report.",
    tags=("similarity",),
)
def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return knn_ivf_pq(
        e, e.where(F.col("vec_id") < _N_QUERIES), k=KNN_K, nprobe="auto",
        m=8, sub_dim=8, ksub=16, rerank="auto",
    )


_GRAPH_IVF_ORACLE = knn_graph_ivf_sql(k=KNN_K, nprobe="auto")


@register(
    "knn_graph_ivf",
    oracle=_GRAPH_IVF_ORACLE,
    doc="Corpus-wide kNN GRAPH (new, r13): the IVF-routed top-5 neighbors "
    "of EVERY vector, with no driver-side query collect — the operator a "
    "100 TB curation run needs for kNN-graph dedup, clustering, and "
    "connectivity, where all rows are queries. Routing is itself an "
    "Arrow-batched corpus pass (each row ranks the broadcast <= 256 "
    "trained centroids with the oracle's exact tie-break and emits its "
    "nprobe probe pairs); probes meet the inverted lists in ONE per-cell "
    "applyInPandas kernel (members x probing queries, sequential-in-j "
    "cosine, local top-k — exact over the routed candidates because "
    "every neighbor lives in exactly one cell); a global window reduces "
    "per-cell winners. The probe shuffle moves nprobe corpus copies — "
    "the IVF-graph's inherent cost, paid instead of the N^2 a "
    "bruteforce graph would need. Invalid vectors appear on neither "
    "side (exclusion contract). The oracle replays training, every "
    "row's probe ranking, candidates, and the exact re-rank.",
    tags=("similarity", "graph", "pipeline"),
)
def q_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return knn_graph_ivf(e, k=KNN_K, nprobe="auto")


# --------------------------------------------------------------------------
# Embedding centroid-distance outliers
# --------------------------------------------------------------------------


@register(
    "embedding_outlier_by_label",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(SUM(CAST(floor(x * 1e12) AS BIGINT)) AS BIGINT) AS s_e12,
             COUNT(*) AS n
      FROM comp GROUP BY label, dim
    ),
    dev AS (
      SELECT c.vec_id, c.label,
             CAST(floor(
               (c.x - CAST(t.s_e12 AS DOUBLE) / (CAST(t.n AS DOUBLE) * 1e12))
               * (c.x - CAST(t.s_e12 AS DOUBLE) / (CAST(t.n AS DOUBLE) * 1e12))
               * 1e12) AS BIGINT) AS d2_e12
      FROM comp c JOIN cent t ON t.label = c.label AND t.dim = c.dim
    ),
    dist AS (
      SELECT vec_id, label, CAST(SUM(d2_e12) AS BIGINT) AS dist2_e12
      FROM dev GROUP BY vec_id, label
    ),
    ranked AS (
      SELECT label, vec_id, dist2_e12,
             CAST(ROW_NUMBER() OVER (PARTITION BY label
                                     ORDER BY dist2_e12 DESC, vec_id ASC)
                  AS BIGINT) AS rank
      FROM dist
    )
    SELECT label, vec_id, dist2_e12, rank FROM ranked WHERE rank <= 3
    """,
    doc="Embedding-space noise screen: top-3 vectors farthest from their "
    "label centroid. Centroid components are exact e12 fixed-point sums "
    "(the k-means-step aggregation of embedding_centroid_by_label); each "
    "squared deviation is floored to e12 before summing, so distances are "
    "exact integers — bit-stable verdicts at any parallelism. Plan: one "
    "(label, dim) aggregate, a broadcast-sized centroid join back, a "
    "per-vector integer sum, then a per-label top-3 window.",
    tags=("similarity", "outlier", "quality"),
)
def embedding_outlier_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    comp = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "x0")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("x0").cast("double").alias("x"),
    )
    cent = comp.groupBy("label", "dim").agg(
        F.sum(F.floor(F.col("x") * F.lit(1e12)).cast("long")).cast("long").alias("s_e12"),
        F.count(F.lit(1)).alias("n"),
    )
    c = F.col("x") - F.col("s_e12").cast("double") / (
        F.col("n").cast("double") * F.lit(1e12)
    )
    dev = comp.join(F.broadcast(cent), ["label", "dim"]).select(
        "vec_id", "label", F.floor(c * c * F.lit(1e12)).cast("long").alias("d2_e12")
    )
    dist = dev.groupBy("vec_id", "label").agg(
        F.sum("d2_e12").cast("long").alias("dist2_e12")
    )
    w = Window.partitionBy("label").orderBy(
        F.col("dist2_e12").desc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("label", "vec_id", "dist2_e12", "rank")
    )


# --- JL random projection ------------------------------------------------

_EMB_DIM = 64
_PROJ_DIM = 16


def _sign(j: int, k: int) -> int:
    # deterministic ±1 matrix from md5(j,k) — statistically random signs
    # (an LCG-style j*a+k*b mix leaves periodic row correlations that
    # measurably hurt the projection's distance preservation)
    import hashlib

    return 1 if int(hashlib.md5(f"{j},{k}".encode()).hexdigest(), 16) % 2 == 0 else -1


def _proj_sql(k: int) -> str:
    # the explicit DOUBLE cast matters: DuckDB types `1000000.0` as DECIMAL
    # and evaluates FLOAT*DECIMAL in FLOAT precision (0.294556f*1e6 =
    # 294556.0f, mis-flooring by 1), while Spark widens float*double to
    # double — cast first and both engines do the same double multiply
    terms = [
        f"({_sign(j, k)})*CAST(FLOOR(CAST(embedding[{j + 1}] AS DOUBLE)*1000000) AS BIGINT)"
        for j in range(_EMB_DIM)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "embedding_random_projection",
    oracle="SELECT vec_id, label, "
    + ", ".join(f"{_proj_sql(k)} AS p{k}" for k in range(_PROJ_DIM))
    + " FROM embeddings",
    doc="Johnson-Lindenstrauss ±1 random projection 64 → 16 dims: each "
    "output component is a signed sum of the input components after 1e-6 "
    "fixed-point quantization, so the projection is EXACT integer "
    "arithmetic (sum magnitude bounded by 64·|x|·1e6 ≪ int64) — "
    "bit-identical at any parallelism and across engines. The sign "
    "matrix is deterministic and baked into the expression text. Pure "
    "projection, zero shuffle; the reduced vectors are the input half "
    "of projection-based ANN (LSH banding / IVF over 16 dims instead "
    "of 64 cuts candidate-generation cost ~4x; measured cosine-structure "
    "Pearson 0.41 at this dim count on the test corpus — the bucketing/"
    "rerank tier, with exact distance recovered on the full vectors).",
    tags=("embedding", "similarity", "projection"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched numpy kernel, not the 16x64-term selectExpr: that
    # expression tree is ~87 KB of text, past the codegen method limit, so
    # Spark silently fell back to INTERPRETED eval at ~0.4 ms/row — and
    # consumers placing it under a join re-evaluated it per joined row
    # (knn_jl_rerank's shortlist window measured 16 s at sf1 for 200k
    # rows). The kernel is the identical arithmetic: widen f32 to f64,
    # multiply by 1e6, floor to int64, signed integer matmul — integer
    # sums are order-free, so the bits match the oracle exactly.
    import numpy as np
    import pandas as pd

    signs = np.array(
        [[_sign(j, k) for k in range(_PROJ_DIM)] for j in range(_EMB_DIM)],
        dtype=np.int64,
    )

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            fx = np.floor(v * 1_000_000.0).astype(np.int64)
            p = fx @ signs
            out = {"vec_id": pdf["vec_id"], "label": pdf["label"]}
            for k in range(_PROJ_DIM):
                out[f"p{k}"] = p[:, k]
            yield pd.DataFrame(out)

    e = load_table(spark, "embeddings", sf_dir)
    schema = "vec_id long, label int, " + ", ".join(
        f"p{k} long" for k in range(_PROJ_DIM)
    )
    return e.select("vec_id", "label", "embedding").mapInPandas(
        project, schema=schema
    )


# --- JL shortlist + exact rerank ANN -------------------------------------

_JL_Q = _N_QUERIES  # the query set and k of the other knn_* queries
_JL_K = KNN_K


# Shortlist budget auto-scales with corpus size (r10 VERDICT item 2): 150
# at the 500-vector anchor, +225 per corpus doubling — the SQL below
# computes the same integer from COUNT(*) (see
# operators/similarity.py:auto_jl_shortlist / budget_doublings_sql).
_JL_SHORT_SQL = (
    f"(SELECT 150 + 225 * ({budget_doublings_sql('SELECT COUNT(*) FROM embeddings')}))"
)

_JL_PROJ_CTE = "SELECT vec_id, " + ", ".join(
    f"{_proj_sql(k)} AS p{k}" for k in range(_PROJ_DIM)
) + " FROM embeddings"

_JL_PDOT = " + ".join(f"q.p{k}*c.p{k}" for k in range(_PROJ_DIM))


_JL_RERANK_ORACLE = f"""
    WITH proj AS ({_JL_PROJ_CTE}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_JL_PDOT} AS pdot
      FROM proj q JOIN proj c
        ON q.vec_id < {_JL_Q} AND q.vec_id <> c.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY pdot DESC, neighbor_id ASC) AS prank
      FROM scored
    ),
    rerank AS (
      SELECT s.query_id, s.neighbor_id,
             {COSINE_SQL.format(a="q.embedding", b="c.embedding")} AS cos_sim
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings c ON c.vec_id = s.neighbor_id
      WHERE s.prank <= {_JL_SHORT_SQL}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM ranked_src
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_JL_K}
    """.replace("FROM ranked_src", "FROM rerank")


@register(
    "knn_jl_rerank",
    oracle=_JL_RERANK_ORACLE,
    doc="ANN top-5 via JL shortlist + exact rerank: score all candidates "
    "against each query with the 16-dim INTEGER projected dot product "
    "(4x cheaper than full-width, bit-exact in both engines), keep the "
    "top-150 shortlist per query, then exact full-vector cosine rerank "
    "inside the shortlist only. The projection-based two-tier ANN shape: "
    "the cheap tier touches every candidate but in reduced width; the "
    "exact tier touches 150 rows per query (~74% recall on this corpus, "
    "whose near-random embeddings are the JL worst case — shortlist size "
    "and projection width are the recall knobs). Recall vs knn_bruteforce "
    "measured in tests/test_analytics_r4.py. At 100 TB the shortlist "
    "tier composes with LSH/IVF bucketing (operators/similarity.py) so "
    "even the cheap tier never scans all N.",
    tags=("similarity", "projection"),
)
def knn_jl_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shortlist kernel (r09, the knn_bruteforce treatment): the previous
    # shape — a non-equi join of the projected corpus against the
    # broadcast projected queries — planned as the family's last
    # BroadcastNestedLoopJoin and shuffled ALL N·|Q| scored pairs into the
    # prank window exchange. The projected query block is tiny (|Q| rows
    # of 16 int64s), so it is collected once and closed over by one
    # Arrow-batched mapInPandas pass that scores each corpus batch with an
    # exact int64 matmul (integer dot — order-free, engine-exact) and
    # emits only its LOCAL top-_JL_SHORT per query; the global prank
    # window then sees at most batches·|Q|·150 rows regardless of N.
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    e = load_table(spark, "embeddings", sf_dir)
    from slr207_mapreduce_spark.operators.similarity import _dial_count

    jl_short = auto_jl_shortlist(_dial_count(e))
    proj = embedding_random_projection(spark, sf_dir).drop("label")
    pcols = [f"p{k}" for k in range(_PROJ_DIM)]
    qrows = proj.where(F.col("vec_id") < _JL_Q).collect()
    qids = np.asarray([r.vec_id for r in qrows], dtype=np.int64)
    qproj = (
        np.asarray([[r[c] for c in pcols] for r in qrows], dtype=np.int64)
        if qrows
        else np.zeros((0, _PROJ_DIM), dtype=np.int64)
    )
    nq = len(qids)

    def shortlist(batches):
        for pdf in batches:
            if nq == 0 or len(pdf) == 0:
                continue
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            cp = pdf[pcols].to_numpy(dtype=np.int64)
            pdot = cp @ qproj.T  # exact int64
            out_q, out_n, out_p = [], [], []
            for i in range(nq):
                mask = nid != qids[i]
                cand_ids, cand_dot = nid[mask], pdot[mask, i]
                top = np.lexsort((cand_ids, -cand_dot))[:jl_short]
                out_q.extend([qids[i]] * len(top))
                out_n.extend(cand_ids[top])
                out_p.extend(cand_dot[top])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "pdot": np.asarray(out_p, dtype=np.int64),
                }
            )

    local = proj.mapInPandas(
        shortlist, schema="query_id long, neighbor_id long, pdot long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pdot"), F.asc("neighbor_id"))
    short = (
        local.withColumn("prank", F.row_number().over(w))
        .where(F.col("prank") <= jl_short)
        .select("query_id", "neighbor_id")
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ce = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    rer = (
        short.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select("query_id", "neighbor_id", cosine(F.col("qe"), F.col("ce")).alias("cos_sim"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= _JL_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _fknn_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce_sql

    return knn_bruteforce_sql(
        k=KNN_K,
        query_pred=f"{{col}} < {_N_QUERIES}",
        corpus_pred=f"c.label = {_FKNN_LABEL}",
    )


_FKNN_LABEL = 3  # most common label at sf0.01 (59 of 500 vectors)


@register(
    "knn_filtered_bruteforce",
    oracle=_fknn_oracle(),
    doc="FILTERED vector search — the canonical hard case in production "
    "ANN systems: exact cosine top-5 among corpus vectors satisfying a "
    f"metadata predicate (label = {_FKNN_LABEL}). The filter composes "
    "BEFORE candidate generation (pre-filtering, pushed into the corpus "
    "scan), so every query gets a full, exact top-k under the predicate "
    "— not post-filtering, which silently under-fills k when the "
    "predicate is selective. Same one-scan local-top-k kernel as "
    "knn_bruteforce (shuffle O(|Q|·k) per batch, never O(N·|Q|)); at "
    "production scale the same composition applies in front of the "
    "IVF/LSH tiers by filtering their candidate sets.",
    tags=("similarity",),
)
def knn_filtered_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce

    e = load_table(spark, "embeddings", sf_dir)
    return knn_bruteforce(
        e.where(F.col("label") == _FKNN_LABEL),
        e.where(F.col("vec_id") < _N_QUERIES),
        k=KNN_K,
    )


def _kmeans_train_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import ivf_train_sql_ctes

    ctes = ",\n    ".join(ivf_train_sql_ctes())
    return f"""
    WITH {ctes},
    cells AS (SELECT vec_id, cidx FROM assign2 WHERE rn = 1),
    sizes AS (SELECT cidx, COUNT(*) AS n FROM cells GROUP BY cidx),
    comps_out AS (
      SELECT cidx, unnest(range(1, len(ci) + 1)) AS dim,
             unnest(ci) AS component_e6
      FROM cent2
    )
    SELECT co.cidx, CAST(co.dim AS BIGINT) AS dim,
           CAST(co.component_e6 AS BIGINT) AS component_e6,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS cell_size
    FROM comps_out co LEFT JOIN sizes s ON s.cidx = co.cidx
    """


@register(
    "embedding_kmeans_train",
    oracle=_kmeans_train_oracle(),
    doc="The trained coarse quantizer as a first-class training op: "
    "fixed-point Lloyd's k-means over the embeddings (seeded md5 init, "
    "2 argmin + grid-snapped-mean rounds, k = min(256, max(4, "
    "isqrt(N)))), emitting every centroid component on the exact 1e-6 "
    "integer grid plus each cell's final population. The ENTIRE fit is "
    "replayed by the oracle — init ranking, every iteration's integer "
    "sums and truncating divisions, the empty/all-zero keep rules — so "
    "this is a hash-checkable distributed k-means, the centroid table a "
    "100 TB pipeline trains once and broadcasts everywhere "
    "(operators/similarity.py:ivf_train_centroids; training iterates over "
    "a bounded seeded sample collected once — cost independent of corpus "
    "size — and only the final cell assignment touches the full corpus, "
    "as one Arrow-batched shuffle-free pass).",
    tags=("similarity", "agg", "pipeline"),
)
def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_train_centroids,
    )

    e = load_table(spark, "embeddings", sf_dir)
    cidx, cint = ivf_train_centroids(e)
    rows = [
        (int(c), d + 1, int(cint[i, d]))
        for i, c in enumerate(cidx)
        for d in range(cint.shape[1])
    ]
    cent_df = spark.createDataFrame(rows, "cidx long, dim long, component_e6 long")

    sizes = (
        ivf_assign_cells(e, cidx, cint)
        .groupBy("cidx")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cent_df.join(F.broadcast(sizes), "cidx", "left")
        .select(
            "cidx",
            "dim",
            "component_e6",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("cell_size"),
        )
    )


@register(
    "knn_ivf_pq_materialized",
    # The materialization is semantically the identity — the oracle IS
    # knn_ivf_pq's oracle, so "build-the-store-then-query equals
    # query-from-raw" is a driver-checked hash equality (the
    # pipeline_crossmodal_dedup_materialized pattern).
    oracle=_IVF_PQ_ORACLE,
    doc="The build-once/query-many form of the composed IVF-PQ index "
    "(r13 VERDICT item 5 — the r13 decade row showed the index wall is "
    "BUILD-dominated, so the split is now a first-class surface): ONE "
    "corpus pass trains the coarse quantizer, assigns cells, PQ-encodes "
    "every valid vector, and writes (vec_id, codes) partitionBy(cidx) "
    "through the sink surface; the query stage reads ONLY its routed "
    "cells back (PartitionFilters on the partition column — pinned by "
    "test), ADC-scores the STORED codes against per-query LUTs, and "
    "exact-re-ranks the shortlist. Output bit-identical to knn_ivf_pq "
    "from raw (same oracle SQL — the driver hash-checks the equality; "
    "a test pins it directly too). At 100 TB the build runs once and "
    "every query batch pays nprobe/k of the CODES (m bytes per vector), "
    "never the full-width corpus.",
    tags=("similarity", "pipeline", "sink"),
)
def q_knn_ivf_pq_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import (
        knn_ivf_pq_build_index,
        knn_ivf_pq_query_index,
    )
    from slr207_mapreduce_spark.plans.base import plan_only_mode
    from slr207_mapreduce_spark.sources.staging import staging_path

    if plan_only_mode():
        # r14 VERDICT item 7: registry enumerators (plan audit, sweep)
        # must not pay the staging write — return the from-raw twin
        # plan, which shares this query's oracle because materialization
        # is semantically the identity.
        return q_knn_ivf_pq(spark, sf_dir)
    e = load_table(spark, "embeddings", sf_dir)
    path = staging_path("ivfpq_index", sf_dir)
    # NOTE: building this query RUNS the index build + staging write (the
    # operator's point is write-once semantics) — the returned plan is
    # the query stage over the stored cells+codes; see the staging module
    # for the swap/lock discipline (r13 ADVICE item 1).
    state = knn_ivf_pq_build_index(
        e, path, n_centroids="auto", m=8, sub_dim=8, ksub=16
    )
    return knn_ivf_pq_query_index(
        e,
        e.where(F.col("vec_id") < _N_QUERIES),
        path,
        state,
        k=KNN_K,
        nprobe="auto",
        m=8,
        sub_dim=8,
        rerank="auto",
    )


# Hybrid-retrieval configuration: the BM25 lexical ranking (text_bm25's
# fixed query {join, hash, scan}) fused with the vector ranking of query
# embedding vec_id=0 via reciprocal rank fusion, each modality
# contributing its top-_RRF_DEPTH ranks, RRF constant 60 (Cormack et
# al.'s standard), final cut top-_RRF_TOPK. Contributions are exact
# integers (1e9 // (60 + rank)), so the fusion is engine-exact.
_RRF_K0 = 60
_RRF_DEPTH = 20
_RRF_TOPK = 10


def _hybrid_rrf_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce_sql

    knn_sql = knn_bruteforce_sql(k=_RRF_DEPTH, query_pred="{col} = 0")
    return f"""
    WITH bm AS ({_BM25_ORACLE}),
    trank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25_e9 DESC, doc_id ASC) AS r
      FROM bm
    ),
    knn AS ({knn_sql}),
    contrib AS (
      SELECT doc_id, 1000000000 // ({_RRF_K0} + r) AS c,
             r AS text_rank, CAST(NULL AS BIGINT) AS vec_rank
      FROM trank WHERE r <= {_RRF_DEPTH}
      UNION ALL
      SELECT neighbor_id AS doc_id, 1000000000 // ({_RRF_K0} + rank) AS c,
             CAST(NULL AS BIGINT) AS text_rank, rank AS vec_rank
      FROM knn
    ),
    fused AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS rrf_e9,
             CAST(MAX(text_rank) AS BIGINT) AS text_rank,
             CAST(MAX(vec_rank) AS BIGINT) AS vec_rank
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, rrf_e9, text_rank, vec_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS fr
      FROM fused
    ) WHERE fr <= {_RRF_TOPK}
    """


@register(
    "retrieval_hybrid_rrf",
    oracle=_hybrid_rrf_oracle(),
    doc="Hybrid retrieval via reciprocal rank fusion (Cormack et al. "
    "2009) — the standard modern curation/retrieval shape, composed "
    "from two already-oracled families: the BM25 lexical ranking "
    "(text_bm25's log-free fixed-point scorer, query {join, hash, "
    f"scan}}) and the exact vector ranking of query embedding 0, each "
    f"contributing its top-{_RRF_DEPTH} ranks; a doc's fused score is "
    f"the integer sum of 1e9 // ({_RRF_K0} + rank) over the modalities "
    "that ranked it (missing modality contributes nothing), final cut "
    f"top-{_RRF_TOPK} by (score, id). No join anywhere: the two rank "
    "lists UNION and fold in one tiny groupBy — at 100 TB each "
    "modality's ranking is the bounded-output retrieval its own "
    "operator already scales (BM25 = two corpus scans; kNN = the ANN "
    "tiers), and the fusion only ever touches 2x depth rows. "
    "Documents and embeddings link by id (doc_id == vec_id).",
    tags=("text", "similarity", "ranking", "pipeline"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce

    bm = text_bm25(spark, sf_dir)
    # top-DEPTH first (TakeOrderedAndProject — the scalable global
    # top-k), THEN rank: the unpartitioned window only ever sees
    # _RRF_DEPTH rows, never the corpus-sized BM25 output
    wt = Window.orderBy(F.desc("bm25_e9"), F.asc("doc_id"))
    trank = (
        bm.orderBy(F.desc("bm25_e9"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .withColumn("r", F.row_number().over(wt))
        .select(
            "doc_id",
            F.expr(f"1000000000 div ({_RRF_K0} + r)").alias("c"),
            F.col("r").cast("long").alias("text_rank"),
            F.lit(None).cast("long").alias("vec_rank"),
        )
    )
    e = load_table(spark, "embeddings", sf_dir)
    knn = knn_bruteforce(e, e.where(F.col("vec_id") == 0), k=_RRF_DEPTH)
    vrank = knn.select(
        F.col("neighbor_id").alias("doc_id"),
        F.expr(f"1000000000 div ({_RRF_K0} + rank)").alias("c"),
        F.lit(None).cast("long").alias("text_rank"),
        F.col("rank").cast("long").alias("vec_rank"),
    )
    fused = (
        trank.unionByName(vrank)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("rrf_e9"),
            F.max("text_rank").cast("long").alias("text_rank"),
            F.max("vec_rank").cast("long").alias("vec_rank"),
        )
    )
    wf = Window.orderBy(F.desc("rrf_e9"), F.asc("doc_id"))
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .where(F.col("fr") <= _RRF_TOPK)
        .select("doc_id", "rrf_e9", "text_rank", "vec_rank")
    )


# Batch hybrid retrieval: _RRF_NQ queries at once (r14 VERDICT item 3).
# Query q's LEXICAL terms are derived from the documents table itself —
# the top-3 tf-idf keywords of document q under text_keyword_tfidf_topk's
# exact integer formulation — and its VECTOR leg is embedding q against
# the materialized IVF-PQ store (build-once/query-many), so the whole
# thing is the production retrieval shape: one warm index, a batch of
# queries, per-query fusion.
_RRF_NQ = 5


def _hybrid_rrf_batch_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import knn_ivf_pq_sql

    knn_sql = knn_ivf_pq_sql(
        k=_RRF_DEPTH, nprobe="auto", m=8, sub_dim=8, ksub=16, rerank="auto",
        query_pred=f"{{col}} < {_RRF_NQ}",
    )
    return f"""
    WITH knn AS ({knn_sql}),
    btoks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                        t -> length(t) > 0)) AS term
      FROM documents
    ),
    tf_all AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM btoks GROUP BY doc_id, term
    ),
    df_all AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf_all GROUP BY term
    ),
    ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    kw AS (
      SELECT tf_all.doc_id AS query_id, tf_all.term,
             ROW_NUMBER() OVER (PARTITION BY tf_all.doc_id
               ORDER BY tf_all.tf * CAST(FLOOR(1000000000.0 * ndocs.n_docs / df_all.df) AS BIGINT) DESC,
                        tf_all.term ASC) AS r
      FROM tf_all JOIN df_all USING (term) CROSS JOIN ndocs
      WHERE tf_all.doc_id < {_RRF_NQ}
    ),
    qterms AS (SELECT query_id, term FROM kw WHERE r <= 3),
    bdl AS (
      SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS dl
      FROM tf_all GROUP BY doc_id
    ),
    bstats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(18,1))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM bdl
    ),
    btf AS (
      SELECT doc_id, term, CAST(tf AS DOUBLE) AS tf FROM tf_all
      WHERE term IN (SELECT term FROM qterms)
    ),
    bdf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM btf GROUP BY term),
    bscored AS (
      SELECT btf.doc_id, btf.term,
             CAST(floor((((bstats.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
               * (btf.tf * (1.5 + 1.0))
               / (btf.tf + 1.5 * (1.0 - 0.75 + 0.75 * bdl.dl / bstats.avgdl))) * 1e9) AS BIGINT) AS e9
      FROM btf
      JOIN bdf ON btf.term = bdf.term
      JOIN bdl ON btf.doc_id = bdl.doc_id
      CROSS JOIN bstats
    ),
    perq AS (
      SELECT q.query_id, s.doc_id, CAST(SUM(s.e9) AS BIGINT) AS bm25_e9
      FROM bscored s JOIN qterms q ON s.term = q.term
      GROUP BY q.query_id, s.doc_id
    ),
    trank AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY bm25_e9 DESC, doc_id ASC) AS r
      FROM perq
    ),
    contrib AS (
      SELECT query_id, doc_id, 1000000000 // ({_RRF_K0} + r) AS c,
             r AS text_rank, CAST(NULL AS BIGINT) AS vec_rank
      FROM trank WHERE r <= {_RRF_DEPTH}
      UNION ALL
      SELECT query_id, neighbor_id AS doc_id,
             1000000000 // ({_RRF_K0} + rank) AS c,
             CAST(NULL AS BIGINT) AS text_rank, rank AS vec_rank
      FROM knn
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(SUM(c) AS BIGINT) AS rrf_e9,
             CAST(MAX(text_rank) AS BIGINT) AS text_rank,
             CAST(MAX(vec_rank) AS BIGINT) AS vec_rank
      FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rrf_e9, text_rank, vec_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_e9 DESC, doc_id ASC) AS fr
      FROM fused
    ) WHERE fr <= {_RRF_TOPK}
    """


@register(
    "retrieval_hybrid_rrf_batch",
    oracle=_hybrid_rrf_batch_oracle(),
    doc="ANN-backed BATCH hybrid retrieval (r14 VERDICT item 3): "
    f"{_RRF_NQ} queries fused per-query in one plan. Each query's "
    "lexical terms are DERIVED FROM THE DATA — the top-3 tf-idf "
    "keywords of its own document under text_keyword_tfidf_topk's "
    "integer-exact formulation — then scored with text_bm25's log-free "
    "fixed-point BM25 generalized to a (query_id, term) relation (one "
    "shared tokenize+tf subplan feeds keyword derivation, dl, and tf — "
    "ws-regex tokens throughout so ReuseExchange collapses the corpus "
    "scans). The vector leg is the MATERIALIZED IVF-PQ store "
    f"(build-once/query-many): all {_RRF_NQ} embeddings probe the warm "
    f"index in one knn_ivf_pq_query_index call at k={_RRF_DEPTH}. "
    "Fusion stays integer-exact (1e9 // (60 + rank) summed as BIGINTs) "
    "and every window is partitioned by query_id — bounded per-query "
    "state, no corpus-sized unpartitioned window. At 100 TB this is "
    "the retrieval loop's steady state: the index builds once, every "
    "query batch pays nprobe/k of 8-byte codes plus two bounded rank "
    "lists per query.",
    tags=("text", "similarity", "ranking", "pipeline", "sink"),
)
def retrieval_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from slr207_mapreduce_spark.functions.portable import dec
    from slr207_mapreduce_spark.operators.similarity import (
        knn_ivf_pq,
        knn_ivf_pq_build_index,
        knn_ivf_pq_query_index,
    )
    from slr207_mapreduce_spark.operators.text import tokens_ws
    from slr207_mapreduce_spark.plans.base import plan_only_mode
    from slr207_mapreduce_spark.sources.staging import staging_path

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))

    # STAGE 1 (eager, bounded — the knn family's collected-query-side
    # pattern): derive each query's top-3 tf-idf keywords under
    # text_keyword_tfidf_topk's exact integer scoring. The result is
    # ≤ _RRF_NQ·3 rows by construction; collecting it here lets STAGE 2
    # run text_bm25's fused ONE-scan shape over literal terms instead of
    # re-deriving the (query_id, term) relation in four plan subtrees
    # (audited: 13 document scans the lazy form paid, 1 after this).
    tf_all = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_all = tf_all.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    ndocs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    tf_q = tf_all.where(F.col("doc_id") < _RRF_NQ)
    kw = (
        df_all.join(F.broadcast(tf_q), "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col("doc_id").alias("query_id"),
            "term",
            (
                F.col("tf")
                * F.floor(
                    F.lit(1000000000.0) * F.col("n_docs") / F.col("df")
                ).cast("long")
            ).alias("score_e9"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("score_e9"), F.asc("term")
    )
    qterm_rows = sorted(
        (
            (r["query_id"], r["term"])
            for r in kw.withColumn("r", F.row_number().over(wk))
            .where(F.col("r") <= 3)
            .select("query_id", "term")
            .collect()
        )
    )
    terms = sorted({t for _, t in qterm_rows})

    # STAGE 2: text_bm25's fused scorer over the literal term set — ONE
    # tokenize+agg pass folds dl and every term's tf; one global pass
    # folds corpus stats and per-term df into a 1-row broadcast
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, F.lit(1)))
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    bstats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(dec("dl", 18, 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, F.lit(1)))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"), F.col(f"tf_{i}").alias("tf")
                    )
                    for i, t in enumerate(terms)
                ]
            )
        ),
    ).where(F.col("tf") > 0)
    df_of_term = F.create_map(
        *[
            x
            for i, t in enumerate(terms)
            for x in (F.lit(t), F.col(f"df_{i}"))
        ]
    )[F.col("term")]
    k1, b = F.lit(1.5), F.lit(0.75)
    s = (
        ((F.col("n_docs") - df_of_term + 0.5) / (df_of_term + 0.5) + 1.0)
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    bscored = (
        tf.crossJoin(F.broadcast(bstats))
        .select("doc_id", "term", F.floor(s * 1e9).cast("long").alias("e9"))
    )
    qmap = F.create_map(
        *[
            x
            for t in terms
            for x in (
                F.lit(t),
                F.array(
                    *[F.lit(q) for q, tt in qterm_rows if tt == t]
                ),
            )
        ]
    )[F.col("term")]
    perq = (
        bscored.select(
            F.explode(qmap).alias("query_id"), "doc_id", "e9"
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("e9").cast("long").alias("bm25_e9"))
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("bm25_e9"), F.asc("doc_id")
    )
    trank = (
        perq.withColumn("r", F.row_number().over(wt))
        .where(F.col("r") <= _RRF_DEPTH)
        .select(
            "query_id",
            "doc_id",
            F.expr(f"1000000000 div ({_RRF_K0} + r)").alias("c"),
            F.col("r").cast("long").alias("text_rank"),
            F.lit(None).cast("long").alias("vec_rank"),
        )
    )

    # vector leg: the batch of query embeddings against the warm store
    e = load_table(spark, "embeddings", sf_dir)
    q = e.where(F.col("vec_id") < _RRF_NQ)
    if plan_only_mode():
        # enumerators pay no staging write — the from-raw composed index
        # is bit-identical to query-from-store (the materialized pattern)
        knn = knn_ivf_pq(
            e, q, k=_RRF_DEPTH, nprobe="auto", m=8, sub_dim=8, ksub=16,
            rerank="auto",
        )
    else:
        path = staging_path("ivfpq_index", sf_dir)
        state = knn_ivf_pq_build_index(
            e, path, n_centroids="auto", m=8, sub_dim=8, ksub=16
        )
        knn = knn_ivf_pq_query_index(
            e, q, path, state, k=_RRF_DEPTH, nprobe="auto", m=8, sub_dim=8,
            rerank="auto",
        )
    vrank = knn.select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.expr(f"1000000000 div ({_RRF_K0} + rank)").alias("c"),
        F.lit(None).cast("long").alias("text_rank"),
        F.col("rank").cast("long").alias("vec_rank"),
    )
    fused = (
        trank.unionByName(vrank)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c").cast("long").alias("rrf_e9"),
            F.max("text_rank").cast("long").alias("text_rank"),
            F.max("vec_rank").cast("long").alias("vec_rank"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_e9"), F.asc("doc_id")
    )
    return (
        fused.withColumn("fr", F.row_number().over(wf))
        .where(F.col("fr") <= _RRF_TOPK)
        .select("query_id", "doc_id", "rrf_e9", "text_rank", "vec_rank")
    )


# (tier name, builder, oracle SQL, n_queries, k) — each tier's own
# builder, oracle text and configuration constants: duplicated literals
# here could let a tier config change silently skew recall denominators
# while the hits numerator, composed from the tier's oracle SQL, tracked it.
_BF_TIERS = (
    ("knn_lsh_bucketed", q_knn_lsh, _LSH_ORACLE, _N_QUERIES, KNN_K),
    ("knn_ivf", q_knn_ivf, _IVF_ORACLE, _N_QUERIES, KNN_K),
    ("knn_pq_adc", q_knn_pq_adc, _PQ_ADC_ORACLE, _N_QUERIES, KNN_K),
    ("knn_ivf_pq", q_knn_ivf_pq, _IVF_PQ_ORACLE, _N_QUERIES, KNN_K),
    ("knn_jl_rerank", knn_jl_rerank, _JL_RERANK_ORACLE, _JL_Q, _JL_K),
)

# Graph-tier sampled audit (r14 VERDICT item 4): the corpus-wide kNN
# graph makes EVERY row a query, so its exact reference is O(N^2) — the
# registered audit instead samples _GRAPH_NQ rows by the seeded md5
# ranking both engines share (tools/measure_graph_scale.py's
# methodology, now oracle-checked by tools/check.py instead of
# harness-only) and scores the graph's edges for those rows against
# knn_bruteforce's exact top-k (self-excluded on both sides).
_GRAPH_NQ = 50
_GRAPH_SEED = 13


def _graph_sample_ctes() -> list[str]:
    from slr207_mapreduce_spark.functions.portable import portable_hash64_sql

    nrm = (
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[])))"
    )
    h = portable_hash64_sql("CAST(vec_id AS VARCHAR)", _GRAPH_SEED)
    return [
        f"""gsample AS (
      SELECT vec_id FROM (
        SELECT vec_id, {h} AS h FROM embeddings
        WHERE {nrm} > 0 AND isfinite({nrm})
      ) ORDER BY h, vec_id LIMIT {_GRAPH_NQ}
    )""",
    ]


def _int8_reference_sql() -> str:
    """Exact f64-cosine top-3 for queries vec_id<5 over corpus vec_id>=5 —
    knn_bruteforce_sql with a corpus-side predicate (the registered helper
    only parameterizes the query side)."""
    cos = COSINE_SQL.format(a="q.embedding", b="c.embedding")
    return f"""
    SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {cos} DESC, c.vec_id ASC) AS rank
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {INT8_NQ} AND c.vec_id >= {INT8_NQ}
    ) WHERE rank <= {INT8_K}
    """


def _recall_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import knn_bruteforce_sql

    ctes = [f"bf AS ({_BRUTEFORCE_ORACLE})"]
    for tier, _, oracle, _, _ in _BF_TIERS:
        ctes.append(f"{tier} AS ({oracle})")
    ctes.append(f"knn_quantized_int8 AS ({_INT8_ORACLE})")
    ctes.append(f"bf_int8 AS ({_int8_reference_sql()})")
    ctes.extend(_graph_sample_ctes())
    ctes.append(f"knn_graph AS ({_GRAPH_IVF_ORACLE})")
    ctes.append(
        "bf_graph AS ("
        + knn_bruteforce_sql(
            k=KNN_K, query_pred="{col} IN (SELECT vec_id FROM gsample)"
        )
        + ")"
    )
    rows = [
        f"""SELECT '{tier}' AS tier, {nq} AS n_queries, {k} AS k,
               COUNT(*) AS hits
        FROM {tier} t JOIN bf b
          ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id"""
        for tier, _, _, nq, k in _BF_TIERS
    ]
    rows.append(
        f"""SELECT 'knn_quantized_int8' AS tier, {INT8_NQ} AS n_queries,
               {INT8_K} AS k, COUNT(*) AS hits
        FROM knn_quantized_int8 t JOIN bf_int8 b
          ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id"""
    )
    rows.append(
        f"""SELECT 'knn_graph_ivf' AS tier, {_GRAPH_NQ} AS n_queries,
               {KNN_K} AS k, COUNT(*) AS hits
        FROM knn_graph t JOIN bf_graph b
          ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id"""
    )
    union = "\n      UNION ALL ".join(rows)
    return f"""
    WITH {','.join(ctes)},
    tier_hits AS (
      {union}
    )
    SELECT tier,
           CAST(n_queries AS BIGINT) AS n_queries,
           CAST(k AS BIGINT) AS k,
           CAST(hits AS BIGINT) AS hits,
           CAST(hits AS DOUBLE) / (n_queries * k) AS recall_at_k
    FROM tier_hits
    """


@register(
    "knn_recall_report",
    oracle=_recall_oracle(),
    doc="Recall@k of every approximate ANN tier against the exact "
    "brute-force answer, one row per tier: LSH/IVF/PQ-ADC/JL-rerank at "
    "their registered configs vs knn_bruteforce (k=5, 10 queries), the "
    "int8-quantized tier vs exact cosine over its corpus split (k=3), "
    "and — new r15 — the corpus-wide kNN GRAPH tier vs a "
    f"{_GRAPH_NQ}-row SAMPLED exact reference (seeded md5 row "
    "selection, both engines; every row is a graph query, so the full "
    "reference would be O(N^2) — the measure_graph_scale methodology, "
    "now oracle-checked by tools/check.py instead of harness-only). "
    "The recall join/agg is exact (the driver hash-checks it) even "
    "though the tier inputs are approximate — the systematic quality "
    "audit the per-tier exactness oracles cannot provide.",
    tags=("similarity", "audit"),
)
def q_knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = q_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    e = load_table(spark, "embeddings", sf_dir)
    bf_int8 = knn_bruteforce(
        e.where(F.col("vec_id") >= INT8_NQ),
        e.where(F.col("vec_id") < INT8_NQ),
        k=INT8_K,
    ).select("query_id", "neighbor_id")

    def tier_row(
        tier: str, build: Builder, nq: int, k: int, ref: DataFrame
    ) -> DataFrame:
        hits = (
            build(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .join(ref, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        return hits.select(
            F.lit(tier).alias("tier"),
            F.lit(nq).cast("long").alias("n_queries"),
            F.lit(k).cast("long").alias("k"),
            F.col("hits").cast("long").alias("hits"),
            (F.col("hits") / F.lit(nq * k)).alias("recall_at_k"),
        )

    # graph tier: sampled exact reference (seeded md5 row selection —
    # the same ranking both engines share in the quantizer's training
    # sample); knn_bruteforce and the graph both exclude self-matches,
    # so the pair sets are directly comparable
    from slr207_mapreduce_spark.functions.portable import portable_hash64
    from slr207_mapreduce_spark.operators.similarity import norm_f64

    nrm = norm_f64(F.col("embedding").cast("array<double>"))
    gsample = (
        e.where((nrm > 0) & (nrm < F.lit(float("inf"))))
        .select(
            "vec_id",
            "embedding",
            portable_hash64(F.col("vec_id").cast("string"), _GRAPH_SEED).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_GRAPH_NQ)
        .select("vec_id", "embedding")
    )
    bf_graph = knn_bruteforce(e, gsample, k=KNN_K).select(
        "query_id", "neighbor_id"
    )

    out = None
    for tier, build, _, nq, k in _BF_TIERS:
        row = tier_row(tier, build, nq, k, bf)
        out = row if out is None else out.unionByName(row)
    out = out.unionByName(
        tier_row("knn_quantized_int8", q_knn_quantized_int8, INT8_NQ, INT8_K, bf_int8)
    )
    return out.unionByName(
        tier_row("knn_graph_ivf", q_knn_graph_ivf, _GRAPH_NQ, KNN_K, bf_graph)
    )

