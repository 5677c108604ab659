"""Similarity search over embedding columns (BASELINE.json north_star).

Two paths, as a real 100 TB pipeline needs:

- **Brute-force cosine top-k** — exact baseline. The query set is small and
  broadcast; the corpus is scanned once, partition-parallel, and top-k per
  query is a TakeOrderedAndProject-shaped reduce (no corpus shuffle). Cost
  O(|Q| · N · d) — right answer for |Q| small or as the verifier of an ANN
  path.
- **LSH-bucketed ANN** — the scale path: sign-bit bucket key over a fixed
  subset of dimensions (coordinate-hyperplane LSH). Corpus and queries are
  bucketed by the same key; candidates meet via an equi-join on the bucket
  (shuffle on bucket key instead of N×Q pairs). Recall is tunable via
  number of sign bits; tests measure recall against the brute-force oracle.

All arithmetic is f64 with sequential folds — bit-identical in Spark
(``aggregate`` over the array) and DuckDB (``list_dot_product``), verified
empirically, so cosine scores are oracle-checkable to the last bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_f64(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in f64 (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_f64(a: Column) -> Column:
    return F.sqrt(dot_f64(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_f64(a, b) / (norm_f64(a) * norm_f64(b))


COSINE_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


def _dial_count(df: DataFrame) -> int:
    """Row count for the auto-dial budgets (LSH table count, IVF
    centroid/probe dials, PQ rerank): parquet-footer metadata when ``df``
    is an unmodified load_table handle — exact by parquet's contract, no
    Spark job — else a plain ``count()``. The dial INTEGER is identical
    either way, so plans and results never change; only the per-build job
    floor does (r15 VERDICT item 4, guide §1)."""
    from slr207_mapreduce_spark.sources.tables import metadata_row_count

    n = metadata_row_count(df)
    return df.count() if n is None else n


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos_sim, rank), rank 1..k by cosine
    desc with neighbor_id asc tie-break (total order → engine-stable).
    Self-matches are excluded.

    Scale shape: the naive plan (broadcast-nested-loop pair join + a
    window over all N·|Q| scored rows) shuffles the entire scored cross
    product into the rank exchange — the one part of exact kNN that does
    NOT have to scale with N. Here the query side is collected once
    (bounded by the ``max_queries`` guard — this operator is for small
    broadcastable query sets; reject-don't-truncate) and closed over by a
    single Arrow-batched ``mapInPandas`` pass over the corpus: each batch
    scores its rows against all queries vectorized in numpy and emits only
    its LOCAL top-k per query, so the final rank exchange sees at most
    batches·|Q|·k rows regardless of corpus size. Compute stays the
    unavoidable exact O(N·|Q|·d); shuffle volume drops from O(N·|Q|) to
    O(|Q|·k) per batch. The kernel accumulates strictly in input order
    (one fused multiply-add sweep per dimension index), which is
    bit-identical to the sequential ``aggregate()`` fold and to DuckDB's
    ``list_dot_product`` — so scores remain oracle-checkable to the last
    bit (pinned by tests/test_sf1_equivalence.py's full-corpus numpy
    mirror and the DuckDB gate).

    Degenerate embeddings (r07 ADVICE): cosine is undefined for a
    zero-norm vector, and the engines disagree on the NaN it produces
    (Spark/DuckDB order NaN greatest; numpy's lexsort drops it last), so
    the semantics are fixed BY CONSTRUCTION instead of inherited from a
    NaN comparison: a zero-norm QUERY vector raises (its whole top-k is
    undefined — fail loudly on the small collected side), and zero-norm
    CORPUS rows are excluded from every candidate set (documented,
    engine-independent, pinned by tests/test_llm_ops.py).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    qrows = queries.selectExpr(
        f"{id_col} AS query_id", f"CAST({vec_col} AS array<double>) AS qvec"
    ).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"knn_bruteforce query side has >{max_queries} rows; this exact "
            "tier broadcasts the query set — use knn_lsh_bucketed/knn_ivf "
            "for large query sets, or raise max_queries explicitly"
        )

    qids = np.asarray([r.query_id for r in qrows], dtype=np.int64)
    qmat = (
        np.asarray([r.qvec for r in qrows], dtype=np.float64)
        if qrows
        else np.zeros((0, 0))
    )

    def _seq_self_dot(m: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(m.shape[0])
        for j in range(m.shape[1]):
            acc += m[:, j] * m[:, j]
        return acc

    qnorm = np.sqrt(_seq_self_dot(qmat))
    nq = len(qids)
    qvalid = np.isfinite(qnorm) & (qnorm > 0)
    if nq and not np.all(qvalid):
        # isfinite & >0: a NaN component gives a NaN norm (fails > 0); an
        # ±Inf component gives an +Inf norm, which PASSES > 0 — isfinite
        # is what actually catches it (r09 ADVICE)
        bad = qids[~qvalid].tolist()
        raise ValueError(
            f"knn_bruteforce: zero-norm or non-finite query vector(s) "
            f"{bad[:5]} — cosine top-k is undefined for them; drop or "
            "re-embed these rows"
        )

    def score_batches(batches):
        for pdf in batches:
            if nq == 0 or len(pdf) == 0:
                continue
            nid = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cmat = np.vstack(pdf["cvec"].to_numpy()).astype(np.float64)
            # Sequential-in-j accumulation == the aggregate() fold, bitwise.
            dots = np.zeros((len(nid), nq))
            for j in range(cmat.shape[1]):
                dots += cmat[:, j : j + 1] * qmat.T[j : j + 1, :]
            cnorm = np.sqrt(_seq_self_dot(cmat))
            # Zero-norm corpus rows: cosine undefined — excluded by
            # contract (see docstring), not left to NaN ordering luck.
            valid = cnorm > 0
            # np.where keeps the one-division x/(a*b) shape bit-identical
            # to the oracle for valid rows (a/b/c would drift 1 ulp).
            cos = dots / (np.where(valid, cnorm, 1.0)[:, None] * qnorm[None, :])
            out_q, out_n, out_c = [], [], []
            for i in range(nq):
                mask = (nid != qids[i]) & valid
                cand_ids, cand_cos = nid[mask], cos[mask, i]
                top = np.lexsort((cand_ids, -cand_cos))[:k]
                out_q.extend([qids[i]] * len(top))
                out_n.extend(cand_ids[top])
                out_c.extend(cand_cos[top])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cos_sim": np.asarray(out_c, dtype=np.float64),
                }
            )

    local_topk = corpus.selectExpr(
        f"{id_col} AS neighbor_id", f"{vec_col} AS cvec"
    ).mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def knn_bruteforce_sql(k: int, query_pred: str, corpus_pred: str = "TRUE") -> str:
    """DuckDB oracle for the exact tier. ``corpus_pred`` (a predicate over
    the corpus alias ``c``) supports the FILTERED search variant: the
    predicate composes BEFORE ranking, so top-k is exact under the filter
    (pre-filtering), never a post-filtered under-filled k. The corpus
    side mirrors knn_bruteforce's documented zero-norm exclusion
    explicitly (r11 ADVICE item 3 — without the guard, a zero-norm row
    inside a filtered slice would ride DuckDB's NaN-greatest ordering
    while the engine excludes it by contract). isfinite() covers the
    NaN-norm case too: DuckDB evaluates NaN > 0 as TRUE (NaN compares
    greatest) where numpy's `cnorm > 0` is False — without it a
    NaN-component corpus row would take rank 1 in the oracle while the
    engine drops it (r12 review). Inf-norm rows produce NaN cosines the
    engine lexsorts past every finite candidate, so excluding them here
    keeps inclusion parity for every realizable top-k."""
    cos = COSINE_SQL.format(a="q.embedding", b="c.embedding")
    cnorm = (
        "sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), "
        "CAST(c.embedding AS DOUBLE[])))"
    )
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
      FROM embeddings q, embeddings c
      WHERE ({query_pred.format(col='q.vec_id')}) AND q.vec_id <> c.vec_id
        AND ({corpus_pred}) AND {cnorm} > 0 AND isfinite({cnorm})
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


def signbit_bucket(vec_col: Column, bits: int = 8) -> Column:
    """Coordinate-hyperplane LSH bucket: bit j set iff component j > 0.
    2^bits buckets; neighbors under cosine tend to share sign patterns."""
    term = None
    for j in range(bits):
        t = F.when(F.element_at(vec_col, j + 1) > 0, F.lit(1 << j)).otherwise(0)
        term = t if term is None else term + t
    return term.cast("long")


def signbit_bucket_sql(vec_expr: str, bits: int = 8) -> str:
    terms = " + ".join(
        f"CASE WHEN {vec_expr}[{j + 1}] > 0 THEN {1 << j} ELSE 0 END"
        for j in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


def _table_dims(table: int, bits: int, dim: int) -> list[int]:
    """Dimension subset (0-based) used by LSH table ``table``."""
    return [(table * bits + j) % dim for j in range(bits)]


def signbit_bucket_dims_sql(vec_expr: str, dims: list[int]) -> str:
    """Bucket key from the sign bits of the given dimensions."""
    terms = " + ".join(
        f"CASE WHEN {vec_expr}[{d + 1}] > 0 THEN {1 << j} ELSE 0 END"
        for j, d in enumerate(dims)
    )
    return f"CAST({terms} AS BIGINT)"


# --- Auto-scaled probe budgets (r10 VERDICT item 2) -----------------------
#
# The r10 recall audit (knn_recall_report) measured recall FALLING with
# corpus size at fixed probe budgets (LSH 0.80→0.56, IVF 0.60→0.30 at
# sf0.01→sf0.1) and hand-measured the dials that restore it (SCALE.md:
# tables 8→16, nprobe 3→12, rerank 20→150). These helpers automate that
# knob contract: budgets grow with floor(log2(N / anchor)) where the anchor
# is the 500-vector sf0.01 corpus the fixed configs were calibrated on.
# The growth coefficients are set so two doublings (sf0.1's 2000 vectors)
# land at or above the hand-measured restore points. Every formula is
# integer-exact on both engines: Python uses bit_length (exact), DuckDB
# floor(log2(integer)) — safe because log2 of an exact power of two is
# exact in IEEE doubles and any other integer below 2^50 sits ≥1e-12 away
# from the nearest integer log2, far beyond double rounding error.

AUTO_BUDGET_ANCHOR = 500  # corpus rows at the calibration point (sf0.01)
MAX_AUTO_LSH_TABLES = 32  # structural ceiling — the SQL mirror unrolls this many


def budget_doublings(n_corpus: int, anchor: int = AUTO_BUDGET_ANCHOR) -> int:
    """floor(log2(n_corpus / anchor)) clamped at 0, integer-exact."""
    if n_corpus <= anchor:
        return 0
    return (n_corpus // anchor).bit_length() - 1


def budget_doublings_sql(count_expr: str, anchor: int = AUTO_BUDGET_ANCHOR) -> str:
    """DuckDB mirror of :func:`budget_doublings` over a COUNT(*) scalar."""
    return (
        f"CASE WHEN ({count_expr}) <= {anchor} THEN 0 "
        f"ELSE CAST(floor(log2(({count_expr}) // {anchor})) AS BIGINT) END"
    )


def auto_lsh_tables(n_corpus: int) -> int:
    """8 tables at the anchor, +4 per corpus doubling (16 at sf0.1 — the
    hand-measured restore point), capped at the structural SQL unroll."""
    return min(MAX_AUTO_LSH_TABLES, 8 + 4 * budget_doublings(n_corpus))


# Multi-probe table dial (r11 VERDICT item 3): each radius-1 probe set
# covers bits+1 buckets per table, so far fewer tables buy the same
# recall — and tables cost a full corpus bucket-projection pass each,
# while probes only expand the |Q|-sized broadcast side. Cap 16 (the
# VERDICT target) halves the single-probe structural ceiling.
MAX_AUTO_LSH_TABLES_MP = 16


def auto_lsh_tables_multiprobe(n_corpus: int) -> int:
    """6 tables at the anchor, +2 per corpus doubling, capped at 16 —
    the radius-1 multi-probe dial. Measured through knn_recall_report:
    0.88 / 0.96 / 1.00 at sf0.01 / sf0.1 / sf1 vs the single-probe dial's
    0.80 / 0.88 / 0.98 at 8 / 16 / 28 tables."""
    return min(MAX_AUTO_LSH_TABLES_MP, 6 + 2 * budget_doublings(n_corpus))


def auto_ivf_nprobe_sql(corpus_pred: str = "TRUE") -> str:
    """DuckDB mirror of :func:`auto_ivf_nprobe` over the embeddings view —
    ONE definition shared by every SQL builder that probes IVF cells
    (knn_ivf_sql, knn_ivf_pq_sql), so a dial recalibration cannot drift
    between oracles (r13 review). ``corpus_pred`` scopes the dial's
    COUNT(*) to a corpus subset (the incremental-dedup store, r14) —
    mirroring the Python side's ``corpus.count()`` over the passed
    DataFrame."""
    d_sql = budget_doublings_sql(
        f"SELECT COUNT(*) FROM embeddings WHERE ({corpus_pred})"
    )
    return f"(SELECT GREATEST(11, 6 + 5 * ({d_sql})))"


def auto_pq_rerank_sql() -> str:
    """DuckDB mirror of :func:`auto_pq_rerank` over the embeddings view —
    shared by knn_pq_adc_sql and knn_ivf_pq_sql (r13 review)."""
    d_sql = budget_doublings_sql("SELECT COUNT(*) FROM embeddings")
    return f"(SELECT 20 + 65 * ({d_sql}))"


def auto_ivf_nprobe(n_corpus: int) -> int:
    """max(11, 6 + 5 per doubling) — the base dial recalibrated for the
    TRAINED bounded-k quantizer (r12) plus a small-corpus floor (r13,
    VERDICT r12 item 7): at the 500-vector anchor the isqrt quantizer
    makes 22 cells, and the old nprobe=6 probed only ~27% of them —
    recall 0.62, the family's weakest figure. The floor of 11 probes
    ~50% of the anchor's cells (trivially cheap at small N, where the
    whole corpus is a few hundred vectors); the +5/doubling base dial
    passes the floor by N=2000, so large-corpus behavior is unchanged
    and the dial stays monotone in N (pinned). Measured through
    knn_recall_report after the floor: 0.86 at sf0.01 (was 0.62),
    0.78 at sf0.1, 0.94 at sf1 — ≥ 0.7 at every tier."""
    return max(11, 6 + 5 * budget_doublings(n_corpus))


# Trained-quantizer size bound (r11 VERDICT item 2): the stride quantizer's
# |C| = N/50 was linear in N behind a 65,536 reject guard; the trained
# quantizer is min(256, max(4, isqrt(N))) — genuinely O(sqrt N) with a hard
# 256-cell ceiling, so the centroid collect/broadcast is bounded by
# construction at ANY corpus size (256 × d doubles ≈ 128 KiB at d=64).
IVF_MAX_CENTROIDS = 256


def auto_ivf_centroids(n_corpus: int) -> int:
    """min(256, max(4, isqrt(N))) — the trained coarse quantizer's cell
    count. Python's math.isqrt is exact; the SQL mirror corrects
    floor(sqrt(double)) by ±1 so both engines compute the same integer."""
    import math

    return min(IVF_MAX_CENTROIDS, max(4, math.isqrt(n_corpus)))


def auto_ivf_centroids_sql(count_expr: str) -> str:
    """DuckDB mirror of :func:`auto_ivf_centroids` (same integer).

    floor(sqrt(CAST(n AS DOUBLE))) can be off by one near perfect squares
    (1-ulp sqrt rounding); two sequential corrections — subtract while
    s*s > n, then add while (s+1)^2 <= n — recover math.isqrt exactly for
    n < 2^50 (sqrt error is at most 1 there)."""
    return (
        f"(SELECT LEAST({IVF_MAX_CENTROIDS}, GREATEST(4, "
        "s2 + (CASE WHEN (s2+1)*(s2+1) <= n THEN 1 ELSE 0 END))) FROM ("
        "SELECT s1 - (CASE WHEN s1*s1 > n THEN 1 ELSE 0 END) AS s2, n FROM ("
        "SELECT CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s1, n "
        f"FROM (SELECT ({count_expr}) AS n))))"
    )


# Graph-tier cell dial (r13 VERDICT item 1): the corpus-wide kNN graph's
# total compute is ~nprobe · N · (N / n_cells) · d, so — unlike the
# bounded-|Q| search tiers, where the 256-cell cap exists only to bound
# the centroid BROADCAST — the graph needs n_cells to scale LINEARLY with
# N to keep per-cell membership (and hence total compute) bounded. Once
# a fixed cap binds, the graph goes quadratic: measured at emb_sf10
# (200k vectors), the 256-cell auto default exceeded 10 minutes while
# 1024 cells built the full graph in 115 s (SCALE.md round-13). The
# graph dial therefore targets ~GRAPH_TARGET_CELL_ROWS members per cell
# and is capped by BYTES, not by 256: 4096 cells × 64 dims × 8 B = 2 MiB
# of centroid state — nowhere near a broadcast problem.
GRAPH_TARGET_CELL_ROWS = 192
GRAPH_MAX_CENTROIDS = 4096

# Training-sample ceiling (r14): with the graph dial the old "≤ 16,384
# vectors because k ≤ 256" bound no longer holds, so the seeded-rank
# training sample is capped explicitly — the bounded-collect contract
# becomes min(64·k, 65,536) rows (≤ 32 MiB at d=64) at ANY cell count.
# For k ≤ 256 consumers LEAST never binds and training is bit-identical
# to every previous round.
IVF_TRAIN_SAMPLE_CAP = 65_536


# Graph-tier probe budget: with cells growing linearly (N / 192), a
# FIXED probe count is what keeps per-row candidate work constant —
# nprobe · 192 ≈ 3,072 candidates per row at the cap — and hence total
# graph compute O(N · d). An nprobe that kept growing with N (the search
# tiers' dial) would reintroduce super-linear per-row work for nothing:
# measured at emb_sf10 (200k, duplicate-structured like a real curation
# corpus), nprobe 46 vs 16 is 294 s vs 126 s at IDENTICAL 1.0 sampled
# recall. The trade surfaces only on shell/near-noise geometry (sf1:
# sampled recall 0.891 at 31 probes -> 0.748 at 16, SCALE.md round-14);
# corpora needing near-noise-exhaustive graphs dial nprobe up explicitly.
GRAPH_NPROBE_CAP = 16


def auto_graph_nprobe(n_corpus: int) -> int:
    """min(search dial, 16) — the kNN-GRAPH tier's probe count. Equal to
    :func:`auto_ivf_nprobe` at every oracle fixture tier (11 at 500 rows,
    16 at 2,000), then pinned at the fixed per-row budget the linear cell
    dial exists to provide. Monotone in N (pinned by test)."""
    return min(GRAPH_NPROBE_CAP, auto_ivf_nprobe(n_corpus))


def auto_graph_nprobe_sql(corpus_pred: str = "TRUE") -> str:
    """DuckDB mirror of :func:`auto_graph_nprobe` (same integer)."""
    return (
        f"(SELECT LEAST({GRAPH_NPROBE_CAP}, "
        f"{auto_ivf_nprobe_sql(corpus_pred)}))"
    )


def auto_graph_centroids(n_corpus: int) -> int:
    """min(4096, max(4, isqrt(N), N // 192)) — the kNN-GRAPH tier's cell
    count. Equals :func:`auto_ivf_centroids` for N ≤ 36,864 (every sf
    fixture tier through sf1, so all measured small-corpus recalls are
    unchanged), then grows linearly with N to hold per-cell membership at
    ~GRAPH_TARGET_CELL_ROWS rows — the dial that keeps graph construction
    O(N · nprobe · target_cell · d) instead of quadratic. Monotone in N
    (pinned by test)."""
    import math

    return min(
        GRAPH_MAX_CENTROIDS,
        max(4, math.isqrt(n_corpus), n_corpus // GRAPH_TARGET_CELL_ROWS),
    )


def auto_graph_centroids_sql(count_expr: str) -> str:
    """DuckDB mirror of :func:`auto_graph_centroids` (same integer) —
    the corrected-isqrt machinery of :func:`auto_ivf_centroids_sql` with
    the linear N // 192 term joined into the GREATEST and the bytes cap
    in place of the 256 cap."""
    return (
        f"(SELECT LEAST({GRAPH_MAX_CENTROIDS}, GREATEST(4, "
        "s2 + (CASE WHEN (s2+1)*(s2+1) <= n THEN 1 ELSE 0 END), "
        f"n // {GRAPH_TARGET_CELL_ROWS})) FROM ("
        "SELECT s1 - (CASE WHEN s1*s1 > n THEN 1 ELSE 0 END) AS s2, n FROM ("
        "SELECT CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s1, n "
        f"FROM (SELECT ({count_expr}) AS n))))"
    )


def auto_pq_rerank(n_corpus: int) -> int:
    """20 candidates at the anchor, +65 per doubling (150 at sf0.1 — the
    measured restore point)."""
    return 20 + 65 * budget_doublings(n_corpus)


def auto_jl_shortlist(n_corpus: int) -> int:
    """150 at the anchor, +225 per doubling (600 at sf0.1). JL needs the
    steepest dial of the family: the synthetic corpus is near-random — the
    JL worst case, where recall tracks shortlist FRACTION, not size (a
    +75/doubling dial measured 0.74→0.52 at sf0.01→sf0.1; +225 holds it).
    On real clustered embeddings the log dial is far more than enough."""
    return 150 + 225 * budget_doublings(n_corpus)


def probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks with popcount ≤ ``radius`` over ``bits`` bits, in
    (popcount, value) order — the multi-probe expansion of one bucket key.
    radius=0 → [0] (classic single-probe)."""
    from itertools import combinations

    masks = []
    for r in range(radius + 1):
        masks.extend(
            sorted(sum(1 << b for b in combo) for combo in combinations(range(bits), r))
        )
    return masks


def knn_lsh_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    tables: int | str = 8,
    dim: int = 64,
    probe_radius: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table sign-bit LSH ANN top-k, optionally multi-probe.

    ``tables`` independent hash tables, each keyed by the sign pattern of a
    different ``bits``-sized dimension subset; a corpus vector is a candidate
    if it shares a bucket with the query in ANY table (classic OR-of-ANDs
    LSH). Candidates meet via an equi-join on (table, bucket) — shuffle
    proportional to bucket sizes, never N×Q. Recall rises with ``tables``
    (measured against brute force in tests); on clustered real-world
    embeddings the same structure prunes far harder than on noise.

    **Multi-probe** (r11 VERDICT item 3): with ``probe_radius`` ≥ 1, each
    QUERY additionally probes every bucket within that Hamming distance of
    its own key in each table — a deterministic XOR bit-flip expansion of
    the key (Lv et al., VLDB'07). A near neighbor that disagrees with the
    query on one of a table's sign bits lands one bit-flip away, so radius
    1 recovers most of what more tables would — at the cost of |Q|·masks
    extra PROBE rows (tiny, broadcast) instead of N extra CORPUS bucket
    rows (a full projection pass per table at 100 TB). Measured at sf1:
    radius 1 reaches recall 1.00 at 16 tables vs 0.98 at the 28 tables the
    single-probe auto dial needed (12 of which were DUPLICATE dimension
    subsets — _table_dims has period dim/bits = 16 at 4 bits). The corpus side always emits exactly
    one bucket per table; recall is monotone in the radius (probing more
    buckets only adds candidates — pinned by the monotone-knob test).

    The corpus is narrow-scan rebalanced before fan-out: a small-SF
    embeddings file arrives as ONE split, serializing the 8-table bucket
    projection AND the candidate cosine scoring on a single core
    (measured: a 1.3 s single-task stage inside a 2.7 s sf1 run). Both
    consumers branch from the same repartition, so exchange reuse keeps
    it one shuffle; at 100 TB the scan has thousands of splits and the
    rebalance is a no-op by construction.
    """
    from pyspark.sql import Window

    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    if tables == "auto":
        # One cheap count action (parquet footer metadata at scan sources)
        # resolves the budget driver-side; the SQL mirror computes the same
        # integer from COUNT(*) and filters its fixed unroll to match.
        n = _dial_count(corpus)
        tables = (
            auto_lsh_tables_multiprobe(n) if probe_radius > 0 else auto_lsh_tables(n)
        )
    corpus = parallelize_narrow_scan(corpus, by=id_col)

    masks = probe_masks(bits, probe_radius)

    def buckets(df: DataFrame, out_id: str, key_arr: str, probe: bool) -> DataFrame:
        # ONE scan computing every table's bucket key, then a positional
        # explode to (id, keys, tbl, bkey) rows — a union-per-table here
        # would rescan the corpus `tables` times (8 full passes over a
        # 100 TB embedding table; caught by the round-6 sf1 plan audit).
        # The multi-probe masks expand the QUERY side only, as a SECOND
        # explode over a literal mask array XORed onto the base key — an
        # O(tables + masks) expression tree, NOT O(tables × masks) structs
        # (a fused tables×masks inline measured ~7 s of pure
        # driver/Catalyst time at 16×7 — the tree, not the data, was the
        # cost). Every row CARRIES the full per-table key array (16
        # bigints) so pair rows can re-derive any earlier table's match
        # without a join back — see the dedup filter below.
        #
        # The key array is ONE selectExpr string, not a py4j-composed
        # F.array(F.when...) tree: tables × bits × when/element_at Column
        # calls cost ~1.7 s of pure driver/py4j time per build at the sf1
        # dial (16 tables — measured r15, build 2.13 s → 0.4 s; the
        # minhash selectExpr precedent). Same expression bit-for-bit:
        # CASE WHEN element_at(v, d+1) > 0 THEN 2^j ELSE 0, summed, CAST
        # BIGINT — the Spark rendering of signbit_bucket_dims_sql.
        per_table = []
        for t in range(tables):
            terms = " + ".join(
                f"CASE WHEN element_at({vec_col}, {d + 1}) > 0 "
                f"THEN {1 << j} ELSE 0 END"
                for j, d in enumerate(_table_dims(t, bits, dim))
            )
            per_table.append(f"CAST({terms} AS BIGINT)")
        base = df.selectExpr(
            f"{id_col} AS {out_id}",
            f"array({', '.join(per_table)}) AS {key_arr}",
        ).select(
            out_id, key_arr, F.posexplode(F.col(key_arr)).alias("tbl", "bkey0")
        )
        if not probe or masks == [0]:
            return base.select(out_id, key_arr, "tbl", F.col("bkey0").alias("bkey"))
        return base.select(
            out_id,
            key_arr,
            "tbl",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("mask"),
            "bkey0",
        ).select(
            out_id,
            key_arr,
            "tbl",
            F.col("bkey0").bitwiseXOR(F.col("mask")).cast("long").alias("bkey"),
        )

    qb = buckets(queries, "query_id", "qkeys", probe=True)
    cb = buckets(corpus, "neighbor_id", "ckeys", probe=False)
    # Emit each pair from its FIRST matching table only, instead of a
    # global `.distinct()` — the minhash family's r13 trick applied to the
    # OR-of-ANDs join: within one table a pair matches for at most one
    # probe mask (the mask is determined as ckey XOR qkey), so duplicates
    # only arise ACROSS tables, and "some earlier table t' also matched"
    # is exactly `(ckeys[t'] XOR qkeys[t']) IN masks` — recomputable from
    # the carried key arrays as a per-row filter. This replaces a full
    # shuffle of the candidate-pair set (LSH's entire output — the
    # dominant shuffle of this operator at 100 TB) with ≤ tables-1 integer
    # XOR/membership tests on only the candidate rows; the kept set is
    # bit-identical to DISTINCT over all (table, mask) matches (pinned by
    # tests/test_llm_ops.py).
    mask_arr = ", ".join(f"{m}L" for m in masks)  # bigint literals: match the key type
    # Evaluation-order-independent form (r15 ADVICE): for tbl = 0,
    # sequence(1, 0) is the DESCENDING [1, 0] and element_at(..., 0) errors,
    # so the tbl = 0 case must be decided by the CASE itself rather than by
    # OR short-circuiting surviving every expression rewrite.
    first_match = (
        "CASE WHEN tbl = 0 THEN true ELSE NOT exists(sequence(1, tbl), "
        f"tt -> array_contains(array({mask_arr}), "
        "element_at(ckeys, tt) ^ element_at(qkeys, tt))) END"
    )
    cand = (
        cb.join(F.broadcast(qb), on=["tbl", "bkey"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .where(F.expr(first_match))
        .select("query_id", "neighbor_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def knn_lsh_bucketed_sql(
    k: int,
    bits: int,
    query_pred: str,
    tables: int | str = 8,
    dim: int = 64,
    probe_radius: int = 0,
) -> str:
    cos = COSINE_SQL.format(a="q.embedding", b="c.embedding")
    if tables == "auto":
        # The table count is data-dependent but the SQL text is fixed, so
        # unroll the structural ceiling and filter to the computed budget —
        # row-identical to the Spark plan, which unrolls exactly the budget.
        d_sql = budget_doublings_sql("SELECT COUNT(*) FROM embeddings")
        if probe_radius > 0:
            n_unroll = MAX_AUTO_LSH_TABLES_MP
            budget_expr = f"LEAST({MAX_AUTO_LSH_TABLES_MP}, 6 + 2 * ({d_sql}))"
        else:
            n_unroll = MAX_AUTO_LSH_TABLES
            budget_expr = f"LEAST({MAX_AUTO_LSH_TABLES}, 8 + 4 * ({d_sql}))"
        budget_cte = f"__budget AS (SELECT {budget_expr} AS n_tables),"
        bucket_filter = "WHERE tbl < (SELECT n_tables FROM __budget)"
    else:
        n_unroll = tables
        budget_cte = ""
        bucket_filter = ""
    bucket_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"{signbit_bucket_dims_sql('embedding', _table_dims(t, bits, dim))} AS bkey "
        f"FROM embeddings"
        for t in range(n_unroll)
    )
    # Multi-probe: the QUERY side additionally probes every bucket within
    # Hamming distance `probe_radius` of its key — a literal XOR unroll per
    # (table, mask), mirroring the Spark plan's bitwiseXOR expansion.
    probe_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, "
        f"xor({signbit_bucket_dims_sql('embedding', _table_dims(t, bits, dim))}, {m})"
        f" AS bkey FROM embeddings WHERE ({query_pred.format(col='vec_id')})"
        for t in range(n_unroll)
        for m in probe_masks(bits, probe_radius)
    )
    return f"""
    WITH {budget_cte}
    __buckets_all AS (
      {bucket_rows}
    ),
    buckets AS (
      SELECT vec_id, tbl, bkey FROM __buckets_all {bucket_filter}
    ),
    __probes_all AS (
      {probe_rows}
    ),
    probes AS (
      SELECT vec_id, tbl, bkey FROM __probes_all {bucket_filter}
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM probes qb JOIN buckets cb
        ON qb.tbl = cb.tbl AND qb.bkey = cb.bkey AND qb.vec_id <> cb.vec_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_sim
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


# Training-sample multiplier: Lloyd's iterates over the first
# IVF_TRAIN_SAMPLE_MULT * k corpus vectors under the seeded md5 ranking
# (a uniform deterministic sample), NOT the whole corpus — the FAISS
# train-on-a-sample discipline. The sample is min(64·k, 65,536) rows
# (IVF_TRAIN_SAMPLE_CAP, r14 — the graph dial lifts k past 256, so the
# bound is explicit instead of implied by the search tiers' cell cap;
# ≤ 32 MiB at d=64 either way), so training cost is INDEPENDENT of
# corpus size by construction: one bounded top-k collect + driver-side
# numpy. Corpora at or below the sample size train on everything
# (sf0.01 and sf0.1 are bit-identical to full-corpus training).
IVF_TRAIN_SAMPLE_MULT = 64


def ivf_train_centroids(
    corpus: DataFrame,
    n_centroids: int | str = "auto",
    iters: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_corpus: int | None = None,
):
    """Train the bounded-k fixed-point coarse quantizer (Lloyd's k-means).

    Deterministic and DuckDB-reproducible by construction (r11 VERDICT
    item 2 — the stride quantizer's |C| = N/50 was linear in N):

    - **k** = min(256, max(4, isqrt(N))) — genuinely O(sqrt N) with a hard
      256-cell ceiling, so the centroid set is bounded at ANY corpus size.
    - **init + sample**: rank the valid corpus by
      (portable_hash64(vec_id), vec_id) — a seeded md5 shuffle both engines
      compute bit-identically. The first k rows initialize the centroids
      (cell index ``cidx`` = that rank, stable across iterations); the
      first ``IVF_TRAIN_SAMPLE_MULT · k`` rows are the TRAINING SAMPLE
      (≤ 16,384 vectors at the 256-cell ceiling — collected once, ~8 MiB),
      so Lloyd's runs driver-side in numpy and training cost is
      independent of corpus size, the FAISS train-on-a-sample discipline.
    - **iterate** ``iters`` times over the sample: assign each vector to
      its max-cosine centroid (smallest-cidx tie-break), then move each
      centroid to its cell's component-wise mean SNAPPED to the 1e-6
      fixed-point grid — scaled components floor(x·1e6) are exact BIGINTs,
      their per-cell SUM and COUNT are exact, and the mean is the
      truncating integer division both engines share (DuckDB ``//``
      truncates toward zero; numpy mirrors it explicitly). Empty cells and
      cells whose snapped mean is the all-zero vector keep their previous
      centroid, so every centroid always has norm > 0.

    Every step is an aggregation DuckDB replays verbatim (the sample is a
    CTE over the same seeded ranking; argmin-join + SUM/COUNT + integer
    division), so the whole trained quantizer — not just its output — is
    oracle-checkable.

    Zero-norm / non-finite corpus vectors are EXCLUDED from training (and,
    in :func:`knn_ivf`, from the inverted lists): their cosine is
    undefined, and the family contract is exclusion-by-construction rather
    than engine NaN ordering (r07 ADVICE).

    Scale shape: training = ONE bounded TakeOrdered collect (the ranked
    sample) + pure numpy; the only corpus-sized work the quantizer ever
    asks for is the final assignment pass its consumers run. A real
    deployment trains once and caches the k × d integer table (≤ 256 × d
    ≈ 128 KiB).

    Returns ``(cidx, cint)``: int64 arrays of shape (k,) and (k, d) — cell
    ids 1..k and grid-scaled centroid components (value = cint · 1e-6).
    """
    import numpy as np

    from slr207_mapreduce_spark.functions.portable import portable_hash64

    if n_corpus is None:
        n_corpus = _dial_count(corpus)
    if n_centroids == "auto":
        kc = auto_ivf_centroids(n_corpus)
    elif n_centroids == "auto_graph":
        kc = auto_graph_centroids(n_corpus)
    else:
        kc = int(n_centroids)

    nrm = norm_f64(F.col("v"))
    valid = (
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .where((nrm > 0) & (nrm < F.lit(float("inf"))))
    )

    sample_rows = (
        valid.select(
            "vid", "v", portable_hash64(F.col("vid").cast("string"), seed).alias("h")
        )
        .orderBy("h", "vid")
        .limit(min(IVF_TRAIN_SAMPLE_MULT * kc, IVF_TRAIN_SAMPLE_CAP))
        .collect()
    )
    if not sample_rows:
        return np.zeros(0, dtype=np.int64), np.zeros((0, 0), dtype=np.int64)
    tmat = np.asarray([r.v for r in sample_rows], dtype=np.float64)
    cint = np.floor(tmat[:kc] * 1e6).astype(np.int64)
    if not (cint != 0).any(axis=1).all():
        # A valid (norm > 0) vector whose every component floors to zero on
        # the 1e-6 grid — degenerate for a grid quantizer; fail loudly
        # rather than let NaN cosines order differently per engine.
        raise ValueError(
            "ivf_train_centroids: a seed vector is all-zero on the 1e-6 "
            "fixed-point grid; embeddings this small need a finer grid"
        )
    kc = len(cint)  # fewer valid vectors than requested cells
    cidx = np.arange(1, kc + 1, dtype=np.int64)
    ti = np.floor(tmat * 1e6).astype(np.int64)

    for _ in range(iters):
        cmat = cint.astype(np.float64) * 1e-6
        cnorm = np.sqrt(_np_seq_self_dot(cmat))
        best = _np_assign_cells(tmat, cmat, cnorm)
        sums = np.zeros((kc, ti.shape[1]), dtype=np.int64)
        counts = np.bincount(best, minlength=kc).astype(np.int64)
        np.add.at(sums, best, ti)
        nz = counts > 0
        newc = cint.copy()
        s, c = sums[nz], counts[nz, None]
        # DuckDB // truncates toward zero; Python // floors — mirror trunc.
        newc[nz] = np.where(s >= 0, s // c, -((-s) // c))
        keep = ~(newc != 0).any(axis=1)  # all-zero snapped mean
        newc[keep] = cint[keep]
        cint = newc
    return cidx, cint


# Per-site broadcast accounting (r14 ADVICE item 2): the explicit
# SparkContext.broadcast sites (cosine_pairs_exact, the IVF-PQ query
# stage, the streaming semantic gate) each ship bounded state, but
# registry enumerators build every query in ONE session, so repeated
# sweeps accumulated one executor-resident broadcast per build. Each
# site now retires its previous broadcast (non-blocking unpersist) when
# it creates a new one — an unpersisted broadcast is still re-fetchable
# from the driver if an older plan executes later, so correctness is
# unchanged while a sweep holds at most one executor-resident copy per
# site.
_TRACKED_BC: dict[tuple[int, str], object] = {}


def tracked_broadcast(sc, value, site: str):
    """``sc.broadcast(value)`` that unpersists the site's previous one.

    Keyed by (SparkContext identity, site) — r15 VERDICT item 4: a
    site-only key would let two concurrent sessions in one process retire
    each other's live broadcasts (re-fetchable, so correct, but the
    hygiene win degrades to churn)."""
    key = (id(sc), site)
    prev = _TRACKED_BC.get(key)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # a torn-down context's broadcast has nothing to free
    bc = sc.broadcast(value)
    _TRACKED_BC[key] = bc
    return bc


def _np_seq_self_dot(m):
    """Sequential-in-j self-dot — bit-identical to the aggregate() fold."""
    import numpy as np

    acc = np.zeros(m.shape[0])
    for j in range(m.shape[1]):
        acc += m[:, j] * m[:, j]
    return acc


def _np_assign_cells(vmat, cmat, cnorm):
    """Max-cosine cell per row (0-based), smallest-cell tie-break.

    Sequential-in-j accumulation == the aggregate() fold / DuckDB
    list_dot_product, bitwise; cells are cidx-ascending so argmax's
    first-max rule IS the (cos DESC, cidx ASC) ROW_NUMBER order.

    Row-chunked (r14): with the graph dial the cell count can reach
    4096, so the (rows × cells) dots matrix is built in ≤ 8192-row
    blocks (≤ 8192 · 4096 · 8 B = 256 MiB) instead of all at once.
    Per-row arithmetic is unchanged, so chunking is bit-identical."""
    import numpy as np

    out = np.empty(vmat.shape[0], dtype=np.int64)
    for lo in range(0, vmat.shape[0], 8192):
        block = vmat[lo : lo + 8192]
        dots = np.zeros((block.shape[0], cmat.shape[0]))
        for j in range(block.shape[1]):
            dots += block[:, j : j + 1] * cmat.T[j : j + 1, :]
        vnorm = np.sqrt(_np_seq_self_dot(block))
        ccos = dots / (vnorm[:, None] * cnorm[None, :])
        out[lo : lo + 8192] = np.argmax(ccos, axis=1)
    return out


def ivf_assign_cells(
    corpus: DataFrame,
    cidx,
    cint,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
    carry_vec: bool = False,
) -> DataFrame:
    """Assign every valid corpus vector to its trained cell — THE shared
    assignment stage for every trained-quantizer consumer (knn_ivf's
    inverted lists, embedding_kmeans_train's cell sizes,
    dedup_semantic_semdedup's cell scoping). One definition so the
    validity predicate and the argmax tie-break cannot drift between
    copies while they all share the same SQL training CTEs (r12 review —
    the count-min drift class from r11 ADVICE item 2).

    Zero-norm / non-finite vectors are excluded (the family contract);
    ``carry_vec=True`` additionally carries the double-cast vector
    through the kernel so downstream pair joins need no re-join back to
    the table. One Arrow-batched ``mapInPandas`` over the corpus scan —
    no shuffle."""
    import numpy as np
    import pandas as pd

    cmat = cint.astype(np.float64) * 1e-6
    cnorm = np.sqrt(_np_seq_self_dot(cmat)) if len(cidx) else np.zeros(0)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cidx) == 0:
                continue
            vid = pdf["__id"].to_numpy(dtype=np.int64)
            vmat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            best = _np_assign_cells(vmat, cmat, cnorm)
            out = {out_id: vid, "cidx": cidx[best]}
            if carry_vec:
                out["v"] = list(pdf["v"])
            yield pd.DataFrame(out)

    nrm = norm_f64(F.col("v"))
    schema = f"{out_id} long, cidx long" + (", v array<double>" if carry_vec else "")
    return (
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .where((nrm > 0) & (nrm < F.lit(float("inf"))))
        .mapInPandas(assign, schema=schema)
    )


def _ivf_query_probes(
    queries: DataFrame,
    cidx,
    cmat,
    cnorm,
    nprobe: int,
    id_col: str,
    vec_col: str,
    max_queries: int,
    op_name: str,
):
    """Collect + validate the query side and rank its ``nprobe`` nearest
    cells — the shared routing stage of knn_ivf and knn_ivf_pq. Returns
    (qids int64[nq], qmat f64[nq,d], probed: list of int64 cell-id arrays,
    one per query, lexsorted exactly like the oracle's ROW_NUMBER ORDER BY
    ccos DESC, cidx ASC)."""
    import numpy as np

    qrows = queries.selectExpr(
        f"{id_col} AS query_id", f"CAST({vec_col} AS array<double>) AS qvec"
    ).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"{op_name} query side has >{max_queries} rows; the probe stage "
            "collects the query set — raise max_queries explicitly or batch "
            "the queries"
        )
    qids = np.asarray([r.query_id for r in qrows], dtype=np.int64)
    qmat = (
        np.asarray([r.qvec for r in qrows], dtype=np.float64)
        if qrows
        else np.zeros((0, 0))
    )
    qnorm = np.sqrt(_np_seq_self_dot(qmat)) if len(qrows) else np.zeros(0)
    qvalid = np.isfinite(qnorm) & (qnorm > 0)
    if len(qrows) and not np.all(qvalid):
        # isfinite catches ±Inf components (Inf norm passes > 0); the > 0
        # test catches zero-norm and NaN (r09 ADVICE)
        badq = qids[~qvalid].tolist()
        raise ValueError(
            f"{op_name}: zero-norm or non-finite query vector(s) {badq[:5]} — "
            "their nprobe cell ranking and top-k are undefined; drop or "
            "re-embed these rows"
        )
    qdots = np.zeros((len(qids), len(cidx)))
    for j in range(qmat.shape[1] if len(qrows) else 0):
        qdots += qmat[:, j : j + 1] * cmat.T[j : j + 1, :]
    probed = []
    if len(qids) and len(cidx):
        qccos = qdots / (qnorm[:, None] * cnorm[None, :])
        for i in range(len(qids)):
            # lexsort (cidx asc within -ccos desc) == ROW_NUMBER ORDER BY
            # ccos DESC, cidx ASC — total order, no NaN by the guards above.
            top = np.lexsort((cidx, -qccos[i]))[:nprobe]
            probed.append(cidx[top])
    else:
        probed = [np.zeros(0, dtype=np.int64) for _ in range(len(qids))]
    return qids, qmat, probed


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int | str = 3,
    n_centroids: int | str = "auto",
    iters: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF-style ANN top-k: inverted lists under a TRAINED bounded-k coarse
    quantizer.

    Centroids come from :func:`ivf_train_centroids` — a deterministic
    fixed-point Lloyd's k-means (seeded md5 init, ``iters`` argmin-join +
    snapped-mean rounds) with k = min(256, max(4, isqrt(N))), so the
    centroid set is O(sqrt N) with a hard 256 ceiling and the old stride
    quantizer's linear |C| = N/50 growth (and its 65,536 reject guard) is
    gone by construction (r11 VERDICT item 2). Every training step is an
    aggregation shape DuckDB replays exactly, so the whole operator —
    training included — stays hash-checkable.

    Every valid corpus vector is assigned to its max-cosine centroid
    (smallest-cidx tie-break) — the inverted lists. A query probes its
    ``nprobe`` nearest cells and ranks exact cosine only against those
    lists.

    Scale path: centroids are ≤ 256 grid-snapped integer vectors,
    broadcast; assignment is one Arrow-batched ``mapInPandas`` over the
    corpus (no shuffle); lists written partitioned by cell id turn a
    probe into PartitionFilters reading only nprobe/k of the corpus
    (pinned by tests/test_layout_runtime.py::
    test_ivf_lists_written_by_cell_prune_probe_scans), and the
    candidate join shuffles candidates, never N×Q. Training costs one
    bounded TakeOrdered collect (the ≤ 16,384-vector seeded sample) plus
    driver-side numpy — independent of corpus size; at 100 TB you train
    once, cache the 128 KiB centroid table, and amortize it over every
    query batch.

    Probe kernel (r09): the query side is collected once (bounded by
    ``max_queries``, reject-don't-truncate — the same contract as
    knn_bruteforce) and validated: a zero-norm or non-finite QUERY vector
    raises naming the offending ids. The |Q|×k probe scoring runs
    driver-side in numpy with the same bit-exact sequential fold; only the
    (query_id, cidx) probe pairs — |Q|·nprobe rows — enter the plan, as a
    broadcast.

    Zero-norm / non-finite CORPUS vectors are excluded from training and
    from the inverted lists (cosine undefined — the family-wide
    exclusion-by-construction contract, r07 ADVICE).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    n_corpus = _dial_count(corpus)
    if nprobe == "auto":
        nprobe = auto_ivf_nprobe(n_corpus)

    cidx, cint = ivf_train_centroids(
        corpus,
        n_centroids=n_centroids,
        iters=iters,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        n_corpus=n_corpus,
    )
    cmat = cint.astype(np.float64) * 1e-6
    cnorm = np.sqrt(_np_seq_self_dot(cmat)) if len(cidx) else np.zeros(0)
    cells = ivf_assign_cells(
        corpus, cidx, cint, id_col=id_col, vec_col=vec_col, out_id="neighbor_id"
    )

    qids, qmat, probed = _ivf_query_probes(
        queries, cidx, cmat, cnorm, nprobe,
        id_col=id_col, vec_col=vec_col,
        max_queries=max_queries, op_name="knn_ivf",
    )
    probe_rows = [
        (int(qids[i]), int(c)) for i in range(len(qids)) for c in probed[i]
    ]
    probes = queries.sparkSession.createDataFrame(
        probe_rows, "query_id long, cidx long"
    )
    # Probes (and hence candidates-with-query-vector) are |Q|-sized —
    # broadcast them, so the only shuffle the corpus ever takes in this
    # operator is the |Q|·k-row rank exchange below.
    cand = cells.join(F.broadcast(probes), "cidx").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = c.join(
        F.broadcast(cand.join(F.broadcast(q), "query_id")), "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def ivf_train_sql_ctes(
    n_centroids: int | str = "auto",
    iters: int = 2,
    seed: int = 7,
    corpus_pred: str = "TRUE",
) -> list[str]:
    """The trained quantizer's DuckDB CTE chain, shared by every query
    that reuses the fixed-point Lloyd's (knn_ivf, embedding_kmeans_train,
    dedup_semantic_semdedup): ``valid`` (zero-norm/non-finite exclusion),
    ``seeded``/``cent0`` (md5 init), ``train`` (the bounded
    ``IVF_TRAIN_SAMPLE_MULT · k`` seeded-rank sample Lloyd's iterates
    over), ``tcomps`` (the sample's grid-scaled components),
    ``assign{t}``/``sums{t}``/``upd{t}``/``cent{t+1}`` per training
    iteration — ending with the final centroids ``cent{iters}`` and the
    FULL-corpus assignment ranking ``assign{iters}`` (rn = 1 rows are the
    cells).

    ``corpus_pred`` (r14, the incremental-dedup store) scopes training
    and the inverted lists to a subset of the embeddings view, mirroring
    a Python-side subset DataFrame: ``vall`` is the FULL table's
    zero-norm/non-finite exclusion (query sides rank against it),
    ``valid`` additionally applies the predicate (everything the
    quantizer touches). The default TRUE keeps every pre-r14 oracle's
    results byte-identical."""
    from slr207_mapreduce_spark.functions.portable import portable_hash64_sql

    count_expr = f"SELECT COUNT(*) FROM embeddings WHERE ({corpus_pred})"
    if n_centroids == "auto":
        kc_sql = auto_ivf_centroids_sql(count_expr)
    elif n_centroids == "auto_graph":
        kc_sql = auto_graph_centroids_sql(count_expr)
    else:
        kc_sql = str(int(n_centroids))
    h_sql = portable_hash64_sql("CAST(vec_id AS VARCHAR)", seed)
    nrm = "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))"
    cos_v = COSINE_SQL.format(a="v.e", b=IVF_CENT_DBL_SQL)
    cos_t = COSINE_SQL.format(a="t.e", b=IVF_CENT_DBL_SQL)
    ctes = [
        f"""vall AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
      WHERE {nrm} > 0 AND isfinite({nrm})
    )""",
        f"""valid AS (
      SELECT vec_id, e FROM vall WHERE ({corpus_pred})
    )""",
        f"""seeded AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY {h_sql}, vec_id) AS cidx
      FROM valid
    )""",
        f"""cent0 AS (
      SELECT cidx, list_transform(e, x -> CAST(floor(x * 1e6) AS BIGINT)) AS ci
      FROM seeded WHERE cidx <= ({kc_sql})
    )""",
        f"""train AS (
      SELECT vec_id, e FROM seeded
      WHERE cidx <= LEAST({IVF_TRAIN_SAMPLE_MULT} * ({kc_sql}), {IVF_TRAIN_SAMPLE_CAP})
    )""",
        """tcomps AS (
      SELECT vec_id, unnest(range(1, len(e) + 1)) AS dim,
             CAST(floor(unnest(e) * 1e6) AS BIGINT) AS xi
      FROM train
    )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""assign{t} AS (
      SELECT t.vec_id, c.cidx,
             ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                ORDER BY {cos_t} DESC,
                                         c.cidx ASC) AS rn
      FROM train t CROSS JOIN cent{t} c
    )"""
        )
        ctes.append(
            f"""sums{t} AS (
      SELECT a.cidx, m.dim, CAST(SUM(m.xi) AS BIGINT) AS s, COUNT(*) AS nrow
      FROM (SELECT vec_id, cidx FROM assign{t} WHERE rn = 1) a
      JOIN tcomps m ON a.vec_id = m.vec_id
      GROUP BY a.cidx, m.dim
    )"""
        )
        ctes.append(
            f"""upd{t} AS (
      SELECT cidx, list(s // nrow ORDER BY dim) AS nc
      FROM sums{t} GROUP BY cidx
    )"""
        )
        ctes.append(
            f"""cent{t + 1} AS (
      SELECT c.cidx,
             CASE WHEN u.nc IS NOT NULL
                       AND len(list_filter(u.nc, x -> x <> 0)) > 0
                  THEN u.nc ELSE c.ci END AS ci
      FROM cent{t} c LEFT JOIN upd{t} u ON c.cidx = u.cidx
    )"""
        )
    # Final assignment: the FULL valid corpus against the trained
    # centroids (training sampled; the inverted lists never do).
    ctes.append(
        f"""assign{iters} AS (
      SELECT v.vec_id, c.cidx,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY {cos_v} DESC,
                                         c.cidx ASC) AS rn
      FROM valid v CROSS JOIN cent{iters} c
    )"""
    )
    return ctes


# SQL view of a grid-scaled centroid list as doubles (alias `c` holding
# the BIGINT list column `ci`), shared by every training-CTE consumer.
IVF_CENT_DBL_SQL = "list_transform(c.ci, cx -> CAST(cx AS DOUBLE) * 1e-6)"


def semdedup_cell_dropped_kernel(tau: float):
    """The per-cell SemDeDup verdict kernel, shared by
    dedup_semantic_semdedup and dedup_semantic_semdedup_merged (r14
    review — the within-cell pair kernel is bit-exactness-critical, so
    there is ONE definition): a doc drops iff a smaller-id member of the
    same cell sits at cosine >= ``tau``. One numpy kernel per cell —
    dots and norms use the sequential-in-j fold both engines share;
    work/memory stay O(cell^2)/O(cell*d), the bound SemDeDup's cell
    scoping exists to provide (the r13 rewrite of the interpreted
    per-pair fold: 50.5 -> 3.3 s at sf1)."""
    import numpy as np
    import pandas as pd

    def cell_dropped(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": pd.Series(dtype="int64")})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        dots = np.zeros((n, n))
        for j in range(mat.shape[1]):
            dots += mat[:, j : j + 1] * mat.T[j : j + 1, :]
        nrm = np.sqrt(_np_seq_self_dot(mat))
        # assignment already excluded zero-norm/non-finite vectors from
        # the lists, so every row here has a valid norm
        cos = dots / (nrm[:, None] * nrm[None, :])
        hit = (ids[:, None] < ids[None, :]) & (cos >= tau)
        return pd.DataFrame({"vec_id": ids[hit.any(axis=0)]})

    return cell_dropped


def merge_trained_cells(cidx, cint, merge_tau: float = 0.6):
    """Deterministic post-training centroid merge (r13 VERDICT item 7 —
    SemDeDup's over-segmentation knob, made self-dialing): union cells
    whose centroid cosine reaches ``merge_tau``; each cell's merged label
    is the MIN cidx reachable through such pairs.

    Why this dial works without knowing the true cluster count: k-means
    at k = isqrt(N) on a corpus with FEWER than isqrt(N) true components
    splits components across cells, and the split cells' centroids are
    nearly parallel — measured ≥ 0.9 on the clustered fixtures — while
    distinct-content cell centroids stay far apart (measured ≤ 0.45
    across every shell/near-noise tier, sf0.01 through sf1). 0.6 — the
    family's unambiguous-similarity tier — sits in that gap with margin
    on both sides, so near-noise corpora merge NOTHING (behavior
    unchanged, pinned by test) and over-segmented corpora re-unite each
    split component.

    Driver-side over the ≤ k² centroid pairs (k is bounded — this is
    centroid state, not corpus state); cosines use the same
    sequential-in-j fold as the SQL mirror (:func:`merged_cells_sql_ctes`
    replays the pair set and the min-label closure as a recursive CTE),
    so the partition is bit-identical in both engines.

    Returns an int64 array ``mcidx`` aligned with ``cidx``."""
    import numpy as np

    n = len(cidx)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    cmat = cint.astype(np.float64) * 1e-6
    dots = np.zeros((n, n))
    for j in range(cmat.shape[1]):
        dots += cmat[:, j : j + 1] * cmat.T[j : j + 1, :]
    nrm = np.sqrt(_np_seq_self_dot(cmat))
    cos = dots / (nrm[:, None] * nrm[None, :])
    adj = (cos >= merge_tau) & ~np.eye(n, dtype=bool)
    label = np.asarray(cidx, dtype=np.int64).copy()
    while True:
        # propagate the min label across merge edges to a fixpoint —
        # identical partition to the oracle's recursive min-label CTE
        nb = np.where(adj, label[None, :], np.iinfo(np.int64).max)
        new = np.minimum(label, nb.min(axis=1))
        if (new == label).all():
            return label
        label = new


def merged_cells_sql_ctes(iters: int = 2, merge_tau: float = 0.6) -> list[str]:
    """DuckDB mirror of :func:`merge_trained_cells` as CTEs appended to
    :func:`ivf_train_sql_ctes`'s chain (requires WITH RECURSIVE): the
    centroid pair set at ``merge_tau``, the min-label closure, and
    ``mcells`` — every valid vector with its MERGED cell id."""
    cos_ab = COSINE_SQL.format(
        a="list_transform(a.ci, cx -> CAST(cx AS DOUBLE) * 1e-6)",
        b="list_transform(b.ci, cx -> CAST(cx AS DOUBLE) * 1e-6)",
    )
    return [
        f"""cedges AS (
      SELECT a.cidx AS src, b.cidx AS dst
      FROM cent{iters} a JOIN cent{iters} b ON a.cidx <> b.cidx
      WHERE {cos_ab} >= {merge_tau}
    )""",
        f"""creach(node, r) AS (
      SELECT cidx, cidx FROM cent{iters}
      UNION
      SELECT e.dst, creach.r FROM creach JOIN cedges e ON e.src = creach.node
    )""",
        "cmap AS (SELECT node AS cidx, MIN(r) AS mcidx FROM creach GROUP BY node)",
        f"""mcells AS (
      SELECT c.vec_id, m.mcidx
      FROM (SELECT vec_id, cidx FROM assign{iters} WHERE rn = 1) c
      JOIN cmap m ON m.cidx = c.cidx
    )""",
    ]


def knn_ivf_sql(
    k: int,
    nprobe: int | str,
    query_pred: str,
    n_centroids: int | str = "auto",
    iters: int = 2,
    seed: int = 7,
    corpus_pred: str = "TRUE",
) -> str:
    """DuckDB mirror of :func:`knn_ivf` INCLUDING the trained quantizer:
    the seeded md5 init, every Lloyd iteration (argmin cross join +
    exact integer SUM/COUNT + truncating division + grid snap + the
    empty/all-zero keep rule), the inverted lists, probes, and the exact
    re-rank — all replayed as plain SQL, so centroid drift anywhere in
    training becomes a driver hash mismatch."""
    np_sql = (
        auto_ivf_nprobe_sql(corpus_pred)
        if nprobe == "auto"
        else str(int(nprobe))
    )
    cos_v = COSINE_SQL.format(a="v.e", b=IVF_CENT_DBL_SQL)
    ctes = ivf_train_sql_ctes(
        n_centroids=n_centroids, iters=iters, seed=seed, corpus_pred=corpus_pred
    )
    cos = COSINE_SQL.format(a="q.embedding", b="c.embedding")
    ctes.append(
        f"""cells AS (SELECT vec_id AS neighbor_id, cidx FROM assign{iters} WHERE rn = 1)"""
    )
    # query side ranks from the FULL table's valid rows (vall): with a
    # corpus_pred the queries are typically OUTSIDE the store subset
    ctes.append(
        f"""probe_rank AS (
      SELECT v.vec_id AS query_id, c.cidx,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY {cos_v} DESC, c.cidx ASC) AS rn
      FROM vall v CROSS JOIN cent{iters} c
      WHERE ({query_pred.format(col='v.vec_id')})
    )"""
    )
    ctes.append(
        f"""probes AS (SELECT query_id, cidx FROM probe_rank WHERE rn <= ({np_sql}))"""
    )
    ctes.append(
        """cand AS (
      SELECT p.query_id, cells.neighbor_id
      FROM probes p JOIN cells ON p.cidx = cells.cidx
      WHERE p.query_id <> cells.neighbor_id
    )"""
    )
    ctes.append(
        f"""scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_sim
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.neighbor_id
    )"""
    )
    ctes.append(
        """ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {k}
    """


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``, bucketed by
    sign-bit LSH so the pair work is per-bucket, not all-pairs.

    The per-bucket pairing runs as an Arrow-batched ``applyInPandas``
    kernel (r7 — the bucket SELF-JOIN evaluated the interpreted cosine
    fold per surviving pair: 26 s at sf1 for ~780k scored pairs). The
    kernel computes the bucket's pairwise cosines with the
    dimension-sequential numpy accumulation — bit-identical to the
    ``aggregate()`` fold and the DuckDB oracle (pinned by the full-sf1
    mirror test) — and emits only pairs at or above threshold. Work and
    memory are O(bucket²)/O(bucket·d) per group, the SAME asymptotic
    shape the join had; the sign-bit bucketing exists precisely to bound
    bucket sizes, and at 100 TB you add bits to keep them bounded (a
    bucket too large for this kernel was already a quadratic-blowup
    bucket for the join).

    Zero-norm embeddings are EXCLUDED from pairing by contract (cosine
    undefined; Spark's NaN-greatest comparison would pass them, numpy's
    would not — r07 ADVICE): the kernel masks ``norm == 0`` rows
    explicitly so the semantics never ride on an engine's NaN rules."""
    import numpy as np
    import pandas as pd

    v = emb.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        signbit_bucket(F.col(vec_col), bits).alias("bucket"),
    )

    def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        if n < 2:
            return empty
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        dots = np.zeros((n, n))
        # Sequential-in-j accumulation == the aggregate() fold, bitwise.
        for j in range(mat.shape[1]):
            dots += mat[:, j : j + 1] * mat.T[j : j + 1, :]
        acc = np.zeros(n)
        for j in range(mat.shape[1]):
            acc += mat[:, j] * mat[:, j]
        nrm = np.sqrt(acc)
        valid = nrm > 0  # zero-norm excluded by contract (see docstring)
        safe = np.where(valid, nrm, 1.0)
        cos = dots / (safe[:, None] * safe[None, :])
        ia, ib = np.where(
            (ids[:, None] < ids[None, :])
            & valid[:, None]
            & valid[None, :]
            & (cos >= threshold)
        )
        if not len(ia):
            return empty
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cos_sim": cos[ia, ib]}
        )

    return v.groupBy("bucket").applyInPandas(
        bucket_pairs, schema="id_a long, id_b long, cos_sim double"
    )


def cosine_neardup_sql(threshold: float, bits: int = 8) -> str:
    cos = COSINE_SQL.format(a="a.embedding", b="b.embedding")
    ba = signbit_bucket_sql("a.embedding", bits)
    bb = signbit_bucket_sql("b.embedding", bits)
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND {ba} = {bb} AND {cos} >= {threshold}
    """


def cosine_pairs_exact(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 65_536,
) -> DataFrame:
    """ALL (id_a < id_b) pairs at cosine >= ``threshold`` — the exact
    global reference an approximate dedup tier is audited against
    (semdedup_recall_report). Audit tier: O(N²·d) compute by definition,
    the same contract as knn_recall_report's brute-force reference.

    Scale shape: the matrix is collected once (bounded by ``max_rows``,
    reject-don't-truncate — at the cap it is 65,536 × d ≈ 34 MiB at the
    shipped d=64) and shipped to executors as an EXPLICIT
    ``SparkContext.broadcast`` (r13 ADVICE item 4: closure capture
    re-serialized the ~34 MiB matrix into every task's pickled closure;
    the broadcast moves it once per executor), referenced inside one
    Arrow-batched ``mapInPandas`` pass over the corpus: each batch
    scores its rows
    against the strictly-larger-id columns of the full matrix and emits
    only qualifying pairs, so no N×N row set ever exists in the plan —
    no cartesian, no shuffle beyond the source scan. The kernel uses the
    dimension-sequential accumulation and the one-division x/(a·b)
    cosine shape, bit-identical to the ``aggregate()`` fold and DuckDB's
    ``list_dot_product`` oracle. Zero-norm / non-finite vectors are
    excluded from pairing by the family contract (cosine undefined).
    """
    import numpy as np
    import pandas as pd

    rows = emb.selectExpr(
        f"{id_col} AS pe_id", f"CAST({vec_col} AS array<double>) AS pe_v"
    ).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine_pairs_exact corpus has >{max_rows} rows; the exact "
            "all-pairs reference broadcasts the full matrix — this audit "
            "tier is for bounded corpora (raise max_rows explicitly, or "
            "audit a sample)"
        )
    ids = np.asarray([r.pe_id for r in rows], dtype=np.int64)
    mat = (
        np.asarray([r.pe_v for r in rows], dtype=np.float64)
        if rows
        else np.zeros((0, 0))
    )
    nrm = np.sqrt(_np_seq_self_dot(mat)) if len(rows) else np.zeros(0)
    valid = np.isfinite(nrm) & (nrm > 0)
    safe = np.where(valid, nrm, 1.0)
    bc = tracked_broadcast(
        emb.sparkSession.sparkContext, (ids, mat, valid, safe),
        "cosine_pairs_exact",
    )

    def pair_batches(batches):
        # Corpus-side column tiling bounds the per-pass temporaries to
        # |batch| x TILE doubles (a 2-row-group sf1 parquet otherwise
        # hands one task a 10k-row batch whose 10k x N j-pass temporaries
        # are GiB-scale). Per-pair accumulation stays j-sequential within
        # each (row, col) cell, so tiling changes nothing bitwise.
        TILE = 4096
        ids, mat, valid, safe = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(ids) == 0:
                continue
            bid = pdf["pe_id"].to_numpy(dtype=np.int64)
            bmat = np.vstack(pdf["pe_v"].to_numpy()).astype(np.float64)
            bnrm = np.sqrt(_np_seq_self_dot(bmat))
            bvalid = np.isfinite(bnrm) & (bnrm > 0)
            bsafe = np.where(bvalid, bnrm, 1.0)
            out_a, out_b, out_c = [], [], []
            for lo in range(0, len(ids), TILE):
                hi = min(lo + TILE, len(ids))
                dots = np.zeros((len(bid), hi - lo))
                # Sequential-in-j accumulation == the aggregate() fold.
                for j in range(bmat.shape[1]):
                    dots += bmat[:, j : j + 1] * mat.T[j : j + 1, lo:hi]
                cos = dots / (bsafe[:, None] * safe[None, lo:hi])
                ia, ib = np.where(
                    (bid[:, None] < ids[None, lo:hi])
                    & bvalid[:, None]
                    & valid[None, lo:hi]
                    & (cos >= threshold)
                )
                if len(ia):
                    out_a.append(bid[ia])
                    out_b.append(ids[lo:hi][ib])
                    out_c.append(cos[ia, ib])
            if not out_a:
                continue
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cos_sim": np.concatenate(out_c),
                }
            )

    # Repartition the streamed side before the kernel: the shuffle moves
    # only N x d floats (megabytes) while the kernel does O(N^2 d) work —
    # without it a low-row-group-count parquet caps parallelism at its
    # row-group count (sf1 = 2) regardless of available cores.
    n_parts = max(
        emb.sparkSession.sparkContext.defaultParallelism,
        (len(rows) + 4096 - 1) // 4096,
    )
    return (
        emb.selectExpr(
            f"{id_col} AS pe_id", f"CAST({vec_col} AS array<double>) AS pe_v"
        )
        .repartition(n_parts)
        .mapInPandas(pair_batches, schema="id_a long, id_b long, cos_sim double")
    )


def cosine_pairs_exact_sql(threshold: float) -> str:
    """DuckDB mirror of :func:`cosine_pairs_exact` — all-pairs with the
    same validity guards the kernel applies (zero-norm / non-finite
    excluded; NaN-greatest comparison rules never decide membership)."""
    cos = COSINE_SQL.format(a="a.embedding", b="b.embedding")
    na = (
        "sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), "
        "CAST(a.embedding AS DOUBLE[])))"
    )
    nb = (
        "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])))"
    )
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {na} > 0 AND isfinite({na}) AND {nb} > 0 AND isfinite({nb})
      AND {cos} >= {threshold}
    """


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC) —
# the FAISS-PQ shape on DataFrames.


def _l2sq_fp(a: Column, b: Column) -> Column:
    """Squared L2 distance as a fixed-point int64 (nano-units).

    Written as (aa - 2ab) + bb with f64 sequential-fold dots — the exact
    expression DuckDB evaluates — then floored to integers so every
    DOWNSTREAM reduction (the per-candidate sum over subspaces) is an
    integer monoid: commutative, associative, order-independent at any
    parallelism. Floats never survive past this expression.
    """
    d2 = dot_f64(a, a) - F.lit(2.0) * dot_f64(a, b) + dot_f64(b, b)
    return F.floor(d2 * F.lit(1e9)).cast("long")


_L2SQ_FP_SQL = (
    "CAST(floor((list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})) * 1000000000.0) AS BIGINT)"
)


def _np_d2_int(a, b):
    """Pairwise floor(((aa - 2ab) + bb) * 1e9) as int64 — the numpy twin
    of ``_L2SQ_FP_SQL``, with every dot accumulated dimension-sequentially
    (== the aggregate() fold / DuckDB list_dot_product, bitwise).
    a: (n, d), b: (k, d) -> (n, k)."""
    import numpy as np

    ab = np.zeros((a.shape[0], b.shape[0]))
    for j in range(a.shape[1]):
        ab += a[:, j : j + 1] * b.T[j : j + 1, :]
    aa = _np_seq_self_dot(a)
    bb = _np_seq_self_dot(b)
    return np.floor(((aa[:, None] - 2.0 * ab) + bb[None, :]) * 1e9).astype(np.int64)


def _adc_topk_per_query(nid, bcell, approx, qids, probed, rerank):
    """Per-query local top-``rerank`` over one ADC-scored batch — the ONE
    shared definition for both IVF-PQ ADC kernels (from-raw and
    query-index; bit-exactness-critical like the SemDeDup kernel).

    r15 optimization (guide §4.2; r14 VERDICT What's-wrong 3): the old
    loop ran ``np.isin(bcell, probed[i])`` per QUERY — an O(|batch|·
    log nprobe) scan of every batch row repeated |Q| times. Routing only
    depends on the batch's DISTINCT cells (≤ ncentroids, typically tens),
    so membership is now built once as a (distinct-cells × |Q|) boolean
    table via a dict lookup over each query's probe list, then expanded
    to rows by fancy indexing. Per query, only its own candidate rows are
    touched (masked lexsort unchanged → candidate set, ordering and
    emitted rows bit-identical; pinned by the unchanged oracle hash and
    tests/test_llm_ops.py).

    Returns (out_q, out_n, out_d) int64 arrays ready for the batch frame.
    """
    import numpy as np

    nq = len(qids)
    ucells, inv = np.unique(bcell, return_inverse=True)
    cell_pos = {int(c): j for j, c in enumerate(ucells)}
    member = np.zeros((len(ucells), nq), dtype=bool)
    for i in range(nq):
        idx = [cell_pos[int(c)] for c in probed[i] if int(c) in cell_pos]
        if idx:
            member[idx, i] = True
    row_member = member[inv, :]  # (|batch| × |Q|) routed-row mask
    out_q, out_n, out_d = [], [], []
    for i in range(nq):
        rows = np.nonzero(row_member[:, i])[0]
        rows = rows[nid[rows] != qids[i]]
        cn, cd = nid[rows], approx[rows, i]
        top = np.lexsort((cn, cd))[:rerank]
        out_q.extend([qids[i]] * len(top))
        out_n.extend(cn[top])
        out_d.extend(cd[top])
    return (
        np.asarray(out_q, dtype=np.int64),
        np.asarray(out_n, dtype=np.int64),
        np.asarray(out_d, dtype=np.int64),
    )


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    ksub: int = 16,
    iters: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Per-subspace trained PQ codebooks — the knn_ivf fixed-point Lloyd's
    recipe applied under the PQ metric (r12; the seeded first-ksub-rows
    codebook's docstring said trained centroids "swap in without changing
    the plan" — this is that swap, still DuckDB-replayable end to end).

    One seed ranking (portable_hash64(vec_id), vec_id — the ksub top rows)
    initializes EVERY subspace with its slice of the same rows; each of
    ``iters`` rounds assigns every corpus sub-vector to its argmin
    nano-int L2 centroid (``_np_d2_int`` == ``_L2SQ_FP_SQL``, smallest-
    cidx tie-break) and moves each centroid to its cell's grid-snapped
    integer mean (exact BIGINT sums, truncating division). Empty cells
    keep their previous centroid; all-zero means are VALID here (L2 has
    no zero-norm singularity), so there is no all-zero keep rule.

    All m subspaces train in the SAME corpus pass per iteration (one
    Arrow-batched ``mapInPandas`` emitting ≤ m·ksub partial-sum rows per
    batch), so training costs ``iters`` corpus scans total regardless of
    m.

    Returns ``(cidx, cint)``: (ksub,) int64 cell ids 1..ksub and
    (m, ksub, sub_dim) int64 grid-scaled components.
    """
    import numpy as np
    import pandas as pd

    from slr207_mapreduce_spark.functions.portable import portable_hash64

    seed_rows = (
        corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            portable_hash64(F.col(id_col).cast("string"), seed).alias("h"),
        )
        .orderBy("h", "vid")
        .limit(ksub)
        .collect()
    )
    if not seed_rows:
        return np.zeros(0, dtype=np.int64), np.zeros((m, 0, sub_dim), dtype=np.int64)
    smat = np.asarray([r.v for r in seed_rows], dtype=np.float64)
    kc = len(seed_rows)
    cidx = np.arange(1, kc + 1, dtype=np.int64)
    cint = np.stack(
        [
            np.floor(smat[:, s * sub_dim : (s + 1) * sub_dim] * 1e6).astype(np.int64)
            for s in range(m)
        ]
    )  # (m, kc, sub_dim)

    for _ in range(iters):
        cmats = cint.astype(np.float64) * 1e-6

        def partial_sums(batches, cmats=cmats):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vmat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
                out_s, out_c, out_n, out_sum = [], [], [], []
                for s in range(m):
                    sub = vmat[:, s * sub_dim : (s + 1) * sub_dim]
                    # argmin first-min rule IS the (d2 ASC, cidx ASC) order
                    best = np.argmin(_np_d2_int(sub, cmats[s]), axis=1)
                    vi = np.floor(sub * 1e6).astype(np.int64)
                    for c in np.unique(best):
                        sel = best == c
                        out_s.append(s)
                        out_c.append(int(c) + 1)
                        out_n.append(int(sel.sum()))
                        out_sum.append(vi[sel].sum(axis=0, dtype=np.int64))
                yield pd.DataFrame(
                    {"s": out_s, "cidx": out_c, "n": out_n, "sm": out_sum}
                )

        parts = (
            corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
            .mapInPandas(partial_sums, schema="s long, cidx long, n long, sm array<long>")
            .collect()
        )
        sums = np.zeros((m, kc, sub_dim), dtype=np.int64)
        counts = np.zeros((m, kc), dtype=np.int64)
        for r in parts:
            sums[r.s, r.cidx - 1] += np.asarray(r.sm, dtype=np.int64)
            counts[r.s, r.cidx - 1] += r.n
        nz = counts > 0
        newc = cint.copy()
        s_, c_ = sums[nz], counts[nz][:, None]
        # DuckDB // truncates toward zero; numpy // floors — mirror trunc.
        newc[nz] = np.where(s_ >= 0, s_ // c_, -((-s_) // c_))
        cint = newc
    return cidx, cint


def pq_train_sql_ctes(
    m: int, sub_dim: int, ksub: int, iters: int = 2, seed: int = 7
) -> list[str]:
    """DuckDB CTE chain replaying :func:`pq_train_codebooks` exactly,
    ending with ``cents (s, cid, cvec)`` — drop-in for knn_pq_adc_sql's
    seeded-codebook ``cents`` CTE."""
    from slr207_mapreduce_spark.functions.portable import portable_hash64_sql

    h_sql = portable_hash64_sql("CAST(vec_id AS VARCHAR)", seed)
    slice_expr = (
        "list_slice(CAST(embedding AS DOUBLE[]), s * {sd} + 1, s * {sd} + {sd})"
    ).format(sd=sub_dim)
    cd = "list_transform(c.ci, cx -> CAST(cx AS DOUBLE) * 1e-6)"
    d2 = _L2SQ_FP_SQL.format(a="b.sub", b=cd)
    ctes = [
        f"subspaces AS (SELECT unnest(range(0, {m})) AS s)",
        f"""pqseed AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY {h_sql}, vec_id) AS cidx
      FROM embeddings
    )""",
        f"""pqbase AS (
      SELECT vec_id, s, {slice_expr} AS sub
      FROM embeddings CROSS JOIN subspaces
    )""",
        f"""pqcent0 AS (
      SELECT b.s, p.cidx,
             list_transform(b.sub, x -> CAST(floor(x * 1e6) AS BIGINT)) AS ci
      FROM pqseed p JOIN pqbase b ON b.vec_id = p.vec_id
      WHERE p.cidx <= {ksub}
    )""",
        f"""pqcomps AS (
      SELECT vec_id, s, unnest(range(1, {sub_dim} + 1)) AS dim,
             CAST(floor(unnest(sub) * 1e6) AS BIGINT) AS xi
      FROM pqbase
    )""",
    ]
    for t in range(iters):
        ctes.append(
            f"""pqassign{t} AS (
      SELECT b.vec_id, b.s, c.cidx,
             ROW_NUMBER() OVER (PARTITION BY b.vec_id, b.s
                                ORDER BY {d2} ASC,
                                         c.cidx ASC) AS rn
      FROM pqbase b JOIN pqcent{t} c ON c.s = b.s
    )"""
        )
        ctes.append(
            f"""pqsums{t} AS (
      SELECT a.s, a.cidx, mm.dim, CAST(SUM(mm.xi) AS BIGINT) AS sm,
             COUNT(*) AS nrow
      FROM (SELECT vec_id, s, cidx FROM pqassign{t} WHERE rn = 1) a
      JOIN pqcomps mm ON mm.vec_id = a.vec_id AND mm.s = a.s
      GROUP BY a.s, a.cidx, mm.dim
    )"""
        )
        ctes.append(
            f"""pqupd{t} AS (
      SELECT s, cidx, list(sm // nrow ORDER BY dim) AS nc
      FROM pqsums{t} GROUP BY s, cidx
    )"""
        )
        ctes.append(
            f"""pqcent{t + 1} AS (
      SELECT c.s, c.cidx,
             CASE WHEN u.nc IS NOT NULL THEN u.nc ELSE c.ci END AS ci
      FROM pqcent{t} c LEFT JOIN pqupd{t} u
        ON u.s = c.s AND u.cidx = c.cidx
    )"""
        )
    ctes.append(
        f"""cents AS (
      SELECT s, cidx AS cid,
             list_transform(ci, cx -> CAST(cx AS DOUBLE) * 1e-6) AS cvec
      FROM pqcent{iters}
    )"""
    )
    return ctes


def knn_pq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    sub_dim: int = 8,
    ksub: int = 16,
    rerank: int | str = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    seed: int = 7,
) -> DataFrame:
    """ANN top-k via product quantization + asymmetric distance (ADC).

    The FAISS-IndexPQ pipeline as a declarative plan:

    1. **Codebook**: the vector space is cut into ``m`` subspaces of
       ``sub_dim`` dims; each subspace gets ``ksub`` centroids. With
       ``train_iters=0`` centroids are the sub-vectors of the first
       ``ksub`` corpus ids (the seeded codebook); with ``train_iters>0``
       they are TRAINED per-subspace by :func:`pq_train_codebooks` — the
       knn_ivf fixed-point Lloyd's recipe under the PQ nano-int L2
       metric, still DuckDB-replayable end to end (r12). Measured
       honestly: on THIS corpus the seeded codebook wins (recall 0.46 vs
       0.34 at sf0.01, 0.84 vs 0.80 at sf0.1, both 1.0 at sf1) — on
       shell-distributed noise, Lloyd means regress toward the origin
       and the collapsed centroids discriminate WORSE than actual data
       points, the classic k-means-on-uniform-data failure. The
       registered query therefore stays seeded; the trained path exists
       (bit-exact parity pinned) for clustered real-world corpora, where
       sub-vector distributions have structure for the cells to track.
    2. **Encode** (offline at scale): each corpus vector becomes m small
       codes — argmin centroid per subspace via MIN over struct(dist,
       cid), a plain aggregation with full map-side combine (the corpus
       never shuffles more than its own row count). 64 f32 dims compress
       to m bytes — a 32× memory cut, which is what lets a 100 TB corpus'
       index live in RAM.
    3. **ADC scan**: a query precomputes a (m × ksub) lookup table of
       subspace distances; a candidate's approximate distance is the SUM
       of m table hits — here a broadcast join of the tiny LUT against
       the code rows plus an integer sum (fixed-point nano-units, so the
       reduction is exact and order-independent).
    4. **Re-rank**: top ``rerank`` candidates by ADC distance get exact
       cosine; output is the top ``k`` by (cosine desc, id asc).

    Returns (query_id, neighbor_id, cos_sim, rank), rank 1..k.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    if rerank == "auto":
        rerank = auto_pq_rerank(_dial_count(corpus))
    # Encode + LUT + ADC run as ONE Arrow-batched numpy kernel over the
    # corpus (r7 — the declarative form exploded the corpus to N·m
    # subspace rows, scored N·m·ksub pairs with the interpreted
    # _l2sq_fp fold and joined another N·m·|Q| LUT hits: a 6.7 s sf1 run
    # dominated by interpreted eval). Every distance is floored to int64
    # NANO-UNITS before any comparison or sum — the same
    # floor((aa - 2ab + bb)·1e9) expression, accumulated
    # dimension-sequentially — so argmin ties, ADC sums, and the
    # candidate ranking are bit-identical to the declarative plan and the
    # DuckDB oracle. The kernel emits each batch's local top-``rerank``
    # per query; the global window below sees batches·|Q|·rerank rows.

    def _collect_mat(df: DataFrame):
        rows = df.selectExpr(
            f"{id_col} AS id", f"CAST({vec_col} AS array<double>) AS v"
        ).collect()
        ids = np.asarray([r.id for r in rows], dtype=np.int64)
        mat = (
            np.asarray([r.v for r in rows], dtype=np.float64)
            if rows
            else np.zeros((0, m * sub_dim))
        )
        order = np.argsort(ids, kind="stable")
        return ids[order], mat[order]

    qids, qmat = _collect_mat(queries)
    nq = len(qids)

    if train_iters > 0:
        _, pq_cint = pq_train_codebooks(
            corpus, m=m, sub_dim=sub_dim, ksub=ksub, iters=train_iters,
            seed=seed, id_col=id_col, vec_col=vec_col,
        )
        cent_subs = [pq_cint[s].astype("float64") * 1e-6 for s in range(m)]
    else:
        _cent_ids, cent_mat = _collect_mat(corpus.where(F.col(id_col) < ksub))
        cent_subs = None  # sliced lazily below (keeps the seeded path intact)

    def _sub(mat, s):
        return mat[:, s * sub_dim : (s + 1) * sub_dim]

    # nano-int PQ distance: the ONE module-level kernel (_np_d2_int),
    # shared with knn_ivf_pq and the _L2SQ_FP_SQL oracle twin (r13 review)
    _d2_int = _np_d2_int

    def _csub(s):
        return cent_subs[s] if cent_subs is not None else _sub(cent_mat, s)

    # LUT[q, s, cid]: integer subspace distances, queries vs centroids.
    lut = np.stack(
        [_d2_int(_sub(qmat, s), _csub(s)) for s in range(m)], axis=1
    ) if nq else np.zeros((0, m, _csub(0).shape[0]), dtype=np.int64)

    def adc_batches(batches):
        for pdf in batches:
            if nq == 0 or len(pdf) == 0:
                continue
            nid = pdf["doc_id"].to_numpy(dtype=np.int64)
            vmat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            approx = np.zeros((len(nid), nq), dtype=np.int64)
            for s in range(m):
                d2 = _d2_int(_sub(vmat, s), _csub(s))
                # centroids are cid-ascending, so argmin's first-min rule
                # IS the struct-min (d2, cid) smallest-cid tie-break
                code = np.argmin(d2, axis=1)
                approx += lut[:, s, code].T
            out_q, out_n, out_d = [], [], []
            for i in range(nq):
                mask = nid != qids[i]
                cn, cd = nid[mask], approx[mask, i]
                top = np.lexsort((cn, cd))[:rerank]
                out_q.extend([qids[i]] * len(top))
                out_n.extend(cn[top])
                out_d.extend(cd[top])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "doc_id": np.asarray(out_n, dtype=np.int64),
                    "approx_d2": np.asarray(out_d, dtype=np.int64),
                }
            )

    adc = corpus.selectExpr(
        f"{id_col} AS doc_id", f"CAST({vec_col} AS array<double>) AS v"
    ).mapInPandas(adc_batches, schema="query_id long, doc_id long, approx_d2 long")
    wc = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("doc_id"))
    cand = (
        adc.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= rerank)
        .select("query_id", "doc_id")
    )

    # Exact re-rank of the short candidate list.
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("cvec"))
    scored = c.join(
        F.broadcast(cand.join(F.broadcast(q), "query_id")), "doc_id"
    ).select(
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


def knn_pq_adc_sql(
    k: int,
    m: int,
    sub_dim: int,
    ksub: int,
    rerank: int | str,
    query_pred: str,
    train_iters: int = 0,
    seed: int = 7,
) -> str:
    """DuckDB mirror of :func:`knn_pq_adc` (same codes, same bits). With
    ``train_iters>0`` the ``cents`` CTE is the full per-subspace Lloyd's
    replay from :func:`pq_train_sql_ctes` — codebook drift anywhere in
    training becomes a driver hash mismatch."""
    if rerank == "auto":
        rerank = auto_pq_rerank_sql()
    slice_expr = (
        "list_slice(CAST(embedding AS DOUBLE[]), s * {sd} + 1, s * {sd} + {sd})"
    ).format(sd=sub_dim)
    if train_iters > 0:
        head = ",\n    ".join(
            pq_train_sql_ctes(m=m, sub_dim=sub_dim, ksub=ksub, iters=train_iters, seed=seed)
        )
    else:
        head = f"""subspaces AS (SELECT unnest(range(0, {m})) AS s),
    cents AS (
      SELECT vec_id AS cid, s, {slice_expr} AS cvec
      FROM embeddings CROSS JOIN subspaces WHERE vec_id < {ksub}
    )"""
    d2 = _L2SQ_FP_SQL.format(a="d.dvec", b="c.cvec")
    qd2 = _L2SQ_FP_SQL.format(a="q.qvec", b="c.cvec")
    cos = COSINE_SQL.format(a="qv.embedding", b="cv.embedding")
    return f"""
    WITH {head},
    docsub AS (
      SELECT vec_id AS doc_id, s, {slice_expr} AS dvec
      FROM embeddings CROSS JOIN subspaces
    ),
    enc AS (
      SELECT d.doc_id, d.s, c.cid, {d2} AS d2
      FROM docsub d JOIN cents c ON d.s = c.s
    ),
    codes AS (
      SELECT doc_id, s, cid AS code FROM (
        SELECT doc_id, s, cid,
               row_number() OVER (PARTITION BY doc_id, s ORDER BY d2 ASC, cid ASC) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT vec_id AS query_id, s, {slice_expr} AS qvec
      FROM embeddings CROSS JOIN subspaces WHERE {{col}} REPLACED
    ),
    lut AS (
      SELECT q.query_id, q.s, c.cid, {qd2} AS qd2
      FROM qsub q JOIN cents c ON q.s = c.s
    ),
    adc AS (
      SELECT l.query_id, cd.doc_id, SUM(l.qd2) AS approx_d2
      FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.cid
      WHERE cd.doc_id <> l.query_id
      GROUP BY l.query_id, cd.doc_id
    ),
    cand AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_d2 ASC, doc_id ASC) AS crn
        FROM adc
      ) WHERE crn <= {rerank}
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT ca.query_id,
             ca.doc_id AS neighbor_id,
             {cos} AS cos_sim,
             row_number() OVER (PARTITION BY ca.query_id
                                ORDER BY {cos} DESC, ca.doc_id ASC) AS rank
      FROM cand ca
      JOIN embeddings qv ON qv.vec_id = ca.query_id
      JOIN embeddings cv ON cv.vec_id = ca.doc_id
    ) WHERE rank <= {k}
    """.replace("{col} REPLACED", query_pred.format(col="vec_id"))


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int | str = "auto",
    n_centroids: int | str = "auto",
    m: int = 8,
    sub_dim: int = 8,
    ksub: int = 16,
    rerank: int | str = "auto",
    iters: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """IVF-PQ composed ANN top-k — the standard billion-scale index shape
    (FAISS IndexIVFPQ): the trained coarse quantizer ROUTES each query to
    its ``nprobe`` nearest cells, PQ-ADC scores ONLY the routed lists'
    vectors with integer LUT sums, and an exact cosine re-rank of the
    ``rerank`` shortlist produces the final top-k.

    Why the composition matters at 100 TB (neither piece alone has both
    properties): knn_ivf bounds the CANDIDATE SET (nprobe/k of the corpus)
    but scores candidates with full-width vectors; knn_pq_adc bounds the
    BYTES PER SCORE (m 8-bit codes vs 64 f32 dims) but scans the whole
    corpus. Composed, ADC work per query is (nprobe/k)·N LUT sums and the
    full-width vectors are touched only for the shortlist — the index a
    real embedding-corpus deployment runs.

    Execution shape: one corpus pass builds cells + codes in a single
    Arrow-batched kernel (the routing mask is applied inside the batch, so
    no N×Q row set exists); the shortlist window sees batches·|Q|·rerank
    rows; the exact re-rank joins |Q|·rerank candidates. Centroid and
    codebook state is ≤ 256·d + m·ksub·sub_dim doubles — broadcast-sized
    at any corpus size. Candidates inherit the IVF lists' zero-norm /
    non-finite exclusion (the ``valid`` contract); invalid QUERY vectors
    raise, as in knn_ivf.

    Bit-exactness: cell assignment, probe ranking, PQ codes, LUT sums
    (int64 nano-units), shortlist tie-breaks, and the exact re-rank all
    reuse the knn_ivf / knn_pq_adc fixed-point formulations, so
    :func:`knn_ivf_pq_sql` replays the ENTIRE index — training included —
    and the driver hash-checks it. On a corpus with no zero-norm /
    non-finite vectors, ``nprobe >= n_centroids`` makes the result
    IDENTICAL to knn_pq_adc at the same codebook/rerank config (pinned by
    test — the routing stage only ever PRUNES). On a DIRTY corpus the two
    intentionally diverge: knn_pq_adc ADC-scans every row, so a zero-norm
    row reaching its exact re-rank divides by zero (RAISES under ANSI,
    Spark 4's default; rides NaN-greatest ordering with ANSI off), while
    this operator's candidates come from the IVF lists, which exclude
    invalid rows by the family contract — the composed index returns a
    correct top-k on data that breaks the flat scan (pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    n_corpus = _dial_count(corpus)
    if nprobe == "auto":
        nprobe = auto_ivf_nprobe(n_corpus)
    if rerank == "auto":
        rerank = auto_pq_rerank(n_corpus)

    # --- routing state: trained coarse quantizer (shared with knn_ivf) ---
    cidx, cint = ivf_train_centroids(
        corpus, n_centroids=n_centroids, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, n_corpus=n_corpus,
    )
    cmat = cint.astype(np.float64) * 1e-6
    cnorm = np.sqrt(_np_seq_self_dot(cmat)) if len(cidx) else np.zeros(0)
    qids, qmat, probed = _ivf_query_probes(
        queries, cidx, cmat, cnorm, nprobe,
        id_col=id_col, vec_col=vec_col,
        max_queries=max_queries, op_name="knn_ivf_pq",
    )
    nq = len(qids)

    # --- PQ state: the registered seeded codebook + per-query LUTs ---
    crows = (
        corpus.where(F.col(id_col) < ksub)
        .selectExpr(f"{id_col} AS id", f"CAST({vec_col} AS array<double>) AS v")
        .collect()
    )
    crows.sort(key=lambda r: r.id)
    cent_mat = (
        np.asarray([r.v for r in crows], dtype=np.float64)
        if crows
        else np.zeros((0, m * sub_dim))
    )

    def _sub(mat_, s):
        return mat_[:, s * sub_dim : (s + 1) * sub_dim]

    # _np_d2_int: the ONE module-level nano-int PQ distance kernel (shared
    # with knn_pq_adc's SQL twin _L2SQ_FP_SQL — r13 review: no local copies)
    lut = (
        np.stack(
            [_np_d2_int(_sub(qmat, s), _sub(cent_mat, s)) for s in range(m)], axis=1
        )
        if nq
        else np.zeros((0, m, len(crows)), dtype=np.int64)
    )

    # --- one corpus pass: assign cells (shared kernel), then ADC on the
    # routed rows only ---
    cells = ivf_assign_cells(
        corpus, cidx, cint, id_col=id_col, vec_col=vec_col, carry_vec=True
    )
    all_probed = (
        np.unique(np.concatenate(probed)) if nq else np.zeros(0, dtype=np.int64)
    )

    def adc_batches(batches):
        for pdf in batches:
            if nq == 0 or len(pdf) == 0:
                continue
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            bcell = pdf["cidx"].to_numpy(dtype=np.int64)
            routed = np.isin(bcell, all_probed)
            if not routed.any():
                continue
            nid, bcell = nid[routed], bcell[routed]
            vmat = np.vstack(pdf["v"].to_numpy()[routed]).astype(np.float64)
            approx = np.zeros((len(nid), nq), dtype=np.int64)
            for s in range(m):
                d2 = _np_d2_int(_sub(vmat, s), _sub(cent_mat, s))
                code = np.argmin(d2, axis=1)  # cid-ascending == tie-break
                approx += lut[:, s, code].T
            out_q, out_n, out_d = _adc_topk_per_query(
                nid, bcell, approx, qids, probed, rerank
            )
            if not len(out_q):
                continue
            yield pd.DataFrame(
                {"query_id": out_q, "doc_id": out_n, "approx_d2": out_d}
            )

    adc = cells.select("vec_id", "cidx", "v").mapInPandas(
        adc_batches, schema="query_id long, doc_id long, approx_d2 long"
    )
    wc = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("doc_id"))
    cand = (
        adc.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= rerank)
        .select("query_id", "doc_id")
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("cvec"))
    scored = c.join(
        F.broadcast(cand.join(F.broadcast(q), "query_id")), "doc_id"
    ).select(
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


def knn_ivf_pq_sql(
    k: int,
    nprobe: int | str,
    m: int,
    sub_dim: int,
    ksub: int,
    rerank: int | str,
    query_pred: str,
    n_centroids: int | str = "auto",
    iters: int = 2,
    seed: int = 7,
) -> str:
    """DuckDB mirror of :func:`knn_ivf_pq` — the IVF training CTEs
    (knn_ivf_sql's head), the seeded PQ codebook, codes, LUTs, and an ADC
    restricted to the routed (query, doc) candidate pairs, ending in the
    same exact re-rank. Drift anywhere — quantizer training, probe
    ranking, code assignment, LUT sums — becomes a driver hash
    mismatch.

    Dirty-QUERY divergence (r13 ADVICE item 2, same shape as
    knn_ivf_sql): the qsub/lut CTEs select query vectors straight from
    ``embeddings`` under ``query_pred`` while probe ranking runs over
    the validity-filtered rows, so a zero-norm / non-finite QUERY vector
    is silently DROPPED here (no probes, hence no output rows) whereas
    the Python operator raises ValueError naming it. The engine/oracle
    comparison contract is therefore valid-query inputs only — which the
    registered query sets satisfy and tests/test_llm_ops.py pins (the
    operator's raise is the product behavior; the oracle cannot raise)."""
    np_sql = auto_ivf_nprobe_sql() if nprobe == "auto" else str(int(nprobe))
    rr_sql = auto_pq_rerank_sql() if rerank == "auto" else str(int(rerank))
    slice_expr = (
        "list_slice(CAST(embedding AS DOUBLE[]), s * {sd} + 1, s * {sd} + {sd})"
    ).format(sd=sub_dim)
    cos_v = COSINE_SQL.format(a="v.e", b=IVF_CENT_DBL_SQL)
    d2 = _L2SQ_FP_SQL.format(a="d.dvec", b="c.cvec")
    qd2 = _L2SQ_FP_SQL.format(a="q.qvec", b="c.cvec")
    cos = COSINE_SQL.format(a="qv.embedding", b="cv.embedding")
    ctes = ivf_train_sql_ctes(n_centroids=n_centroids, iters=iters, seed=seed)
    ctes.append(
        f"cells AS (SELECT vec_id AS doc_id, cidx FROM assign{iters} WHERE rn = 1)"
    )
    ctes.append(
        f"""probe_rank AS (
      SELECT v.vec_id AS query_id, c.cidx,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY {cos_v} DESC, c.cidx ASC) AS rn
      FROM valid v CROSS JOIN cent{iters} c
      WHERE ({query_pred.format(col='v.vec_id')})
    )"""
    )
    ctes.append(
        f"probes AS (SELECT query_id, cidx FROM probe_rank WHERE rn <= ({np_sql}))"
    )
    ctes.append(
        """routed AS (
      SELECT p.query_id, cells.doc_id
      FROM probes p JOIN cells ON p.cidx = cells.cidx
      WHERE p.query_id <> cells.doc_id
    )"""
    )
    ctes.append(f"subspaces AS (SELECT unnest(range(0, {m})) AS s)")
    ctes.append(
        f"""cents AS (
      SELECT vec_id AS cid, s, {slice_expr} AS cvec
      FROM embeddings CROSS JOIN subspaces WHERE vec_id < {ksub}
    )"""
    )
    ctes.append(
        f"""docsub AS (
      SELECT vec_id AS doc_id, s, {slice_expr} AS dvec
      FROM embeddings CROSS JOIN subspaces
      WHERE vec_id IN (SELECT DISTINCT doc_id FROM routed)
    )"""
    )
    ctes.append(
        f"""codes AS (
      SELECT doc_id, s, cid AS code FROM (
        SELECT d.doc_id, d.s, c.cid,
               row_number() OVER (PARTITION BY d.doc_id, d.s
                                  ORDER BY {d2} ASC, c.cid ASC) AS rn
        FROM docsub d JOIN cents c ON d.s = c.s
      ) WHERE rn = 1
    )"""
    )
    ctes.append(
        f"""qsub AS (
      SELECT vec_id AS query_id, s, {slice_expr} AS qvec
      FROM embeddings CROSS JOIN subspaces
      WHERE ({query_pred.format(col='vec_id')})
    )"""
    )
    ctes.append(
        f"""lut AS (
      SELECT q.query_id, q.s, c.cid, {qd2} AS qd2
      FROM qsub q JOIN cents c ON q.s = c.s
    )"""
    )
    ctes.append(
        """adc AS (
      SELECT r.query_id, r.doc_id, SUM(l.qd2) AS approx_d2
      FROM routed r
      JOIN codes cd ON cd.doc_id = r.doc_id
      JOIN lut l ON l.query_id = r.query_id AND l.s = cd.s AND l.cid = cd.code
      GROUP BY r.query_id, r.doc_id
    )"""
    )
    ctes.append(
        f"""cand AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_d2 ASC, doc_id ASC) AS crn
        FROM adc
      ) WHERE crn <= ({rr_sql})
    )"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT ca.query_id,
             ca.doc_id AS neighbor_id,
             {cos} AS cos_sim,
             row_number() OVER (PARTITION BY ca.query_id
                                ORDER BY {cos} DESC, ca.doc_id ASC) AS rank
      FROM cand ca
      JOIN embeddings qv ON qv.vec_id = ca.query_id
      JOIN embeddings cv ON cv.vec_id = ca.doc_id
    ) WHERE rank <= {k}
    """


def knn_ivf_pq_build_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | str = "auto",
    m: int = 8,
    sub_dim: int = 8,
    ksub: int = 16,
    iters: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """BUILD stage of the build-once/query-many IVF-PQ index (r13 VERDICT
    item 5): one Arrow-batched corpus pass assigns every valid vector to
    its trained cell AND PQ-encodes it, then the (vec_id, codes) rows are
    written partitionBy(cidx) through the sink surface — the layout
    tests/test_layout_runtime.py pins for probe-side pruning. Returns the
    broadcast-sized state a deployment caches next to the store:
    ``(cidx, cint, cent_mat)`` — ≤ 256·d + ksub·(m·sub_dim) doubles.

    The r13 decade row showed the composed index's wall is BUILD-dominated
    (query side is milliseconds); this operator makes that split a
    first-class surface: build pays training + the encode pass + one
    write, and every subsequent :func:`knn_ivf_pq_query_index` run reads
    only its routed cells (PartitionFilters) and never re-encodes."""
    import os

    import numpy as np
    import pandas as pd

    from slr207_mapreduce_spark.sources.sinks import write_table
    from slr207_mapreduce_spark.sources.staging import staged_write

    n_corpus = _dial_count(corpus)
    cidx, cint = ivf_train_centroids(
        corpus, n_centroids=n_centroids, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, n_corpus=n_corpus,
    )
    crows = (
        corpus.where(F.col(id_col) < ksub)
        .selectExpr(f"{id_col} AS id", f"CAST({vec_col} AS array<double>) AS v")
        .collect()
    )
    crows.sort(key=lambda r: r.id)
    cent_mat = (
        np.asarray([r.v for r in crows], dtype=np.float64)
        if crows
        else np.zeros((0, m * sub_dim))
    )

    cells = ivf_assign_cells(
        corpus, cidx, cint, id_col=id_col, vec_col=vec_col, carry_vec=True
    )

    def encode_batches(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cent_mat) == 0:
                continue
            vmat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            codes = np.empty((len(vmat), m), dtype=np.int64)
            for s in range(m):
                d2 = _np_d2_int(
                    vmat[:, s * sub_dim : (s + 1) * sub_dim],
                    cent_mat[:, s * sub_dim : (s + 1) * sub_dim],
                )
                codes[:, s] = np.argmin(d2, axis=1)  # cid-asc tie-break
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cidx": pdf["cidx"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    encoded = cells.select("vec_id", "cidx", "v").mapInPandas(
        encode_batches, schema="vec_id long, cidx long, codes array<long>"
    )
    with staged_write(path) as stage:
        write_table(encoded, stage, partition_by=["cidx"])
        # Persist the routing/codebook state INSIDE the store (an
        # underscore-prefixed sidecar — Spark's parquet reader ignores
        # it), so the store is self-contained: a FRESH process queries it
        # via knn_ivf_pq_load_state without retraining or re-encoding —
        # the actual query-many contract. npz round-trips the exact f64
        # bits. Written into the staging dir, so the atomic swap
        # publishes data + state together.
        np.savez(
            os.path.join(stage, "_ivfpq_state.npz"),
            cidx=cidx, cint=cint, cent_mat=cent_mat,
        )
    return cidx, cint, cent_mat


def knn_ivf_pq_load_state(path: str):
    """Load the broadcast-sized routing/codebook state a
    :func:`knn_ivf_pq_build_index` run persisted inside its store —
    ``(cidx, cint, cent_mat)``, bit-identical to what the build
    returned, so a fresh session can run :func:`knn_ivf_pq_query_index`
    against an existing store with no retraining (pinned by test)."""
    import os

    import numpy as np

    with np.load(os.path.join(path, "_ivfpq_state.npz")) as z:
        return z["cidx"], z["cint"], z["cent_mat"]


def knn_ivf_pq_query_index(
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    state,
    k: int = 5,
    nprobe: int | str = "auto",
    m: int = 8,
    sub_dim: int = 8,
    rerank: int | str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """QUERY stage over a :func:`knn_ivf_pq_build_index` store: probes
    rank the CACHED centroid state (no retraining, no corpus pass), the
    store scan keeps only routed cells — ``cidx`` is the partition
    column, so this is PartitionFilters pruning reading ≤ nprobe·|Q|
    cells of codes, m bytes-per-score worth of data, never the
    full-width corpus — ADC sums the STORED codes against the per-query
    LUTs, and the exact re-rank touches full vectors only for the
    ≤ |Q|·rerank shortlist.

    Bit-identical to :func:`knn_ivf_pq` from raw at the same
    configuration (pinned by test, and the registered query shares
    knn_ivf_pq's oracle so the driver hash-checks the equality): codes
    are the same argmin over the same doubles, the per-batch local
    top-``rerank`` is a monotone prune under the global
    (approx_d2, doc_id) window, and the re-rank reuses the exact cosine
    formulation."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    cidx, cint, cent_mat = state
    n_corpus = _dial_count(corpus)
    if nprobe == "auto":
        nprobe = auto_ivf_nprobe(n_corpus)
    if rerank == "auto":
        rerank = auto_pq_rerank(n_corpus)
    cmat = cint.astype(np.float64) * 1e-6
    cnorm = np.sqrt(_np_seq_self_dot(cmat)) if len(cidx) else np.zeros(0)
    qids, qmat, probed = _ivf_query_probes(
        queries, cidx, cmat, cnorm, int(nprobe),
        id_col=id_col, vec_col=vec_col,
        max_queries=max_queries, op_name="knn_ivf_pq_query_index",
    )
    nq = len(qids)
    lut = (
        np.stack(
            [
                _np_d2_int(
                    qmat[:, s * sub_dim : (s + 1) * sub_dim],
                    cent_mat[:, s * sub_dim : (s + 1) * sub_dim],
                )
                for s in range(m)
            ],
            axis=1,
        )
        if nq and len(cent_mat)
        else np.zeros((0, m, len(cent_mat)), dtype=np.int64)
    )
    all_probed = (
        np.unique(np.concatenate(probed)) if nq else np.zeros(0, dtype=np.int64)
    )

    spark = corpus.sparkSession
    store = spark.read.parquet(path)
    # partition-column pruning: only the routed cells' files are read
    routed = store.where(
        F.col("cidx").cast("long").isin([int(c) for c in all_probed])
    )
    # explicit broadcast of the per-query state (qids/LUT/probe sets —
    # ~10-20 MB at the max_queries bound): r13 ADVICE item 4's pattern,
    # one copy per executor instead of per-task closure pickling
    bc = tracked_broadcast(
        spark.sparkContext, (qids, lut, probed), "knn_ivf_pq_query_index"
    )

    def adc_batches(batches):
        b_qids, b_lut, b_probed = bc.value
        for pdf in batches:
            if nq == 0 or len(pdf) == 0:
                continue
            nid = pdf["vec_id"].to_numpy(dtype=np.int64)
            bcell = pdf["cidx"].to_numpy(dtype=np.int64)
            codes = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            approx = np.zeros((len(nid), nq), dtype=np.int64)
            for s in range(m):
                approx += b_lut[:, s, codes[:, s]].T
            out_q, out_n, out_d = _adc_topk_per_query(
                nid, bcell, approx, b_qids, b_probed, rerank
            )
            if not len(out_q):
                continue
            yield pd.DataFrame(
                {"query_id": out_q, "doc_id": out_n, "approx_d2": out_d}
            )

    adc = routed.select(
        "vec_id", F.col("cidx").cast("long").alias("cidx"), "codes"
    ).mapInPandas(adc_batches, schema="query_id long, doc_id long, approx_d2 long")
    wc = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"), F.asc("doc_id"))
    cand = (
        adc.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= rerank)
        .select("query_id", "doc_id")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    c = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("cvec"))
    scored = c.join(
        F.broadcast(cand.join(F.broadcast(q), "query_id")), "doc_id"
    ).select(
        "query_id",
        F.col("doc_id").alias("neighbor_id"),
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank")
        )
    )


def knn_graph_ivf(
    emb: DataFrame,
    k: int = 5,
    nprobe: int | str = "auto",
    n_centroids: int | str = "auto_graph",
    iters: int = 2,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-wide kNN GRAPH: the IVF-routed top-k neighbors of EVERY
    vector — no driver-side query collect anywhere, both sides of the
    search fully distributed.

    Every other knn tier in this engine takes a bounded query set (the
    probe stage collects it); the operator a 100 TB curation run actually
    needs for kNN-graph dedup, clustering, and connectivity analysis is
    all-rows-as-queries. Here the routing stage is itself an Arrow-batched
    corpus pass: each row ranks the broadcast centroids (<= 4096 vectors
    at the graph dial's bytes cap, <= 2 MiB of state) with the same
    lexsort tie-break as the oracle's ROW_NUMBER
    and emits its nprobe (cell, row) probe pairs. Probes and inverted
    lists then meet in ONE per-cell ``applyInPandas`` kernel (members vs
    probing queries, sequential-in-j cosine, local top-k), and a global
    window reduces the per-cell winners — each neighbor lives in exactly
    one cell, so per-cell top-k followed by global top-k is EXACT over
    the routed candidate set.

    Scale shape: the probe shuffle moves nprobe copies of the corpus
    vectors — the IVF-graph's inherent cost (at 100 TB you materialize
    the lists partitioned by cell once and stream query batches per
    cell; the sink path for that layout is pinned in
    tests/test_layout_runtime.py). Per-cell work is
    O(|cell| · |probes into cell| · d) and total graph compute is
    ~nprobe · N · (N / n_cells) · d, so — unlike the bounded-|Q| search
    tiers, where the 256-centroid cap exists to bound the BROADCAST —
    the GRAPH needs n_centroids to keep scaling with N. The default is
    therefore the graph-specific dial :func:`auto_graph_centroids`
    (min(4096, max(4, isqrt(N), N // 192)) — r13 VERDICT item 1): cells
    grow LINEARLY with N above ~37k rows, holding per-cell membership
    at ~192 and total compute at O(N · nprobe · 192 · d) instead of the
    quadratic cliff the old 256-cell search cap produced (measured at
    emb_sf10, 200k vectors: >10 min capped vs ~2 min at the scaled
    dial — SCALE.md round-13/14). Identical to the search dial at every
    sf fixture tier through sf1, so small-corpus recall is unchanged.
    The rank exchange sees N·nprobe·k rows, never N².

    Zero-norm / non-finite vectors appear on NEITHER side (the family's
    exclusion contract: they are not in the lists, and a graph node with
    an undefined ranking has no row here — unlike the bounded-|Q| tiers,
    which raise, a corpus-wide graph must tolerate dirty rows).

    Fully oracle-replayed by :func:`knn_graph_ivf_sql` — training, every
    row's probe ranking, candidates, exact cosines, top-k."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    n_corpus = _dial_count(emb)
    if nprobe == "auto":
        nprobe = auto_graph_nprobe(n_corpus)
    cidx, cint = ivf_train_centroids(
        emb, n_centroids=n_centroids, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, n_corpus=n_corpus,
    )
    cmat = cint.astype(np.float64) * 1e-6
    cnorm = np.sqrt(_np_seq_self_dot(cmat)) if len(cidx) else np.zeros(0)
    cells = ivf_assign_cells(
        emb, cidx, cint, id_col=id_col, vec_col=vec_col, carry_vec=True
    )

    np_probe = int(nprobe)

    def probe_batches(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cidx) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            varr = pdf["v"].to_numpy()
            vmat = np.vstack(varr).astype(np.float64)
            dots = np.zeros((len(ids), len(cidx)))
            for j in range(vmat.shape[1]):
                dots += vmat[:, j : j + 1] * cmat.T[j : j + 1, :]
            nrm = np.sqrt(_np_seq_self_dot(vmat))
            # rows here come from the lists — valid by construction
            ccos = dots / (nrm[:, None] * cnorm[None, :])
            # ONE stable argsort == the oracle's (cos DESC, cidx ASC)
            # tie-break: the centroid columns are cidx-ascending by
            # construction, and a stable sort on -cos preserves that
            # order among ties — bit-identical to the per-row
            # np.lexsort((cidx, -ccos[i])) it replaces (r14: that loop
            # was N per-row Python lexsorts)
            kp = min(np_probe, len(cidx))
            top = np.argsort(-ccos, axis=1, kind="stable")[:, :kp]
            rep = np.repeat(np.arange(len(ids)), kp)
            yield pd.DataFrame(
                {
                    "cidx": cidx[top.ravel()],
                    "vec_id": ids[rep],
                    "v": varr[rep],
                }
            )

    probes = cells.select("vec_id", "v").mapInPandas(
        probe_batches, schema="cidx long, vec_id long, v array<double>"
    )
    tagged = cells.select(
        "cidx", "vec_id", "v", F.lit(False).alias("is_query")
    ).unionByName(
        probes.select("cidx", "vec_id", "v", F.lit(True).alias("is_query"))
    )

    def cell_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "cos_sim": pd.Series(dtype="float64"),
            }
        )
        qm = pdf[pdf["is_query"]]
        mm = pdf[~pdf["is_query"]]
        if len(qm) == 0 or len(mm) == 0:
            return empty
        qid = qm["vec_id"].to_numpy(dtype=np.int64)
        mid = mm["vec_id"].to_numpy(dtype=np.int64)
        qmat = np.vstack(qm["v"].to_numpy()).astype(np.float64)
        mmat = np.vstack(mm["v"].to_numpy()).astype(np.float64)
        # pre-sort members by id so ONE stable argsort on -cos gives the
        # oracle's exact (cos DESC, neighbor_id ASC) tie-break — replaces
        # a per-query-row Python lexsort over the full member set (r14)
        mo = np.argsort(mid, kind="stable")
        mid, mmat = mid[mo], mmat[mo]
        dots = np.zeros((len(qid), len(mid)))
        for j in range(qmat.shape[1]):
            dots += qmat[:, j : j + 1] * mmat.T[j : j + 1, :]
        qn = np.sqrt(_np_seq_self_dot(qmat))
        mn = np.sqrt(_np_seq_self_dot(mmat))
        cos = dots / (qn[:, None] * mn[None, :])
        # take k+1 then drop the self row (a query is also a member of
        # its own home cell) — identical to masking self before ranking
        kk = min(k + 1, len(mid))
        order = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
        out_q, out_n, out_c = [], [], []
        for i in range(len(qid)):
            sel = order[i][mid[order[i]] != qid[i]][:k]
            out_q.extend([qid[i]] * len(sel))
            out_n.extend(mid[sel])
            out_c.extend(cos[i, sel])
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.asarray(out_q, dtype=np.int64),
                "neighbor_id": np.asarray(out_n, dtype=np.int64),
                "cos_sim": np.asarray(out_c, dtype=np.float64),
            }
        )

    local = tagged.groupBy("cidx").applyInPandas(
        cell_topk, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def knn_graph_ivf_sql(
    k: int,
    nprobe: int | str,
    n_centroids: int | str = "auto_graph",
    iters: int = 2,
    seed: int = 7,
) -> str:
    """DuckDB mirror of :func:`knn_graph_ivf` — knn_ivf_sql with the
    query side widened to the whole valid corpus and the graph tier's
    dials (auto_graph_centroids / auto_graph_nprobe)."""
    np_sql = auto_graph_nprobe_sql() if nprobe == "auto" else str(int(nprobe))
    cos_v = COSINE_SQL.format(a="v.e", b=IVF_CENT_DBL_SQL)
    cos = COSINE_SQL.format(a="q.embedding", b="c.embedding")
    ctes = ivf_train_sql_ctes(n_centroids=n_centroids, iters=iters, seed=seed)
    ctes.append(
        f"cells AS (SELECT vec_id, cidx FROM assign{iters} WHERE rn = 1)"
    )
    ctes.append(
        f"""gprobe_rank AS (
      SELECT v.vec_id AS query_id, c.cidx,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY {cos_v} DESC, c.cidx ASC) AS rn
      FROM valid v CROSS JOIN cent{iters} c
    )"""
    )
    ctes.append(
        f"gprobes AS (SELECT query_id, cidx FROM gprobe_rank WHERE rn <= ({np_sql}))"
    )
    ctes.append(
        """gcand AS (
      SELECT p.query_id, cells.vec_id AS neighbor_id
      FROM gprobes p JOIN cells ON p.cidx = cells.cidx
      WHERE p.query_id <> cells.vec_id
    )"""
    )
    ctes.append(
        f"""gscored AS (
      SELECT gcand.query_id, gcand.neighbor_id, {cos} AS cos_sim
      FROM gcand
      JOIN embeddings q ON q.vec_id = gcand.query_id
      JOIN embeddings c ON c.vec_id = gcand.neighbor_id
    )"""
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM gscored
    ) WHERE rank <= {k}
    """
