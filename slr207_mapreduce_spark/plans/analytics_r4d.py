"""Analysis widening, round 4 batch 5 — profiling & audit operators.

- stats_column_profile: per-column data-quality profile (row count, null
  count, exact distinct, min/max) — the Deequ/expectations-style audit a
  pipeline runs before trusting a new drop of data. One scan per profiled
  table; the per-column aggregates all ride the same partial-agg pass.

- pipeline_integrity_audit: referential-integrity report — primary-key
  duplicate counts and foreign-key orphan counts across the star schema.
  Joins are key-only (never payload); anti-join orphan checks are the
  left-anti shape that scales as a broadcast or shuffle semi-join.

- embedding_random_projection: Johnson-Lindenstrauss-style ±1 random
  projection of the 64-dim embeddings to 8 dims. Components are quantized
  to 1e-6 fixed point BEFORE the signed sum, so the projection is exact
  integer arithmetic — bit-identical at any parallelism and in DuckDB.
  The deterministic sign matrix is baked into the generated expression
  text (same literals both engines). Dimensionality reduction is the
  front half of projection-based ANN (the reduced vectors feed the LSH /
  IVF operators in operators/similarity.py).

Reference lineage: all three are O6 projections + O8/O9 hash reduce
compositions (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table

# --- column profile ------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_discount", "l_returnflag", "l_shipdate")


def _profile_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(MIN({col}) AS VARCHAR) AS min_repr,
           CAST(MAX({col}) AS VARCHAR) AS max_repr
    FROM lineitem
    """


@register(
    "stats_column_profile",
    oracle=" UNION ALL ".join(_profile_sql(c) for c in _PROFILE_COLS),
    doc="Per-column data-quality profile of lineitem (rows, nulls, exact "
    "distinct, min/max rendered as strings so one schema fits numeric and "
    "string columns): the pre-ingest audit shape. ALL columns' metrics "
    "ride ONE scan — the multi-distinct aggregate plans as a single "
    "Expand pass (rows duplicated once per profiled column, which beats "
    "one scan per column by the scan cost at 100 TB) and the 1-row "
    "result is unpivoted to per-column rows with stack(). Distincts are "
    "exact; the cheap variant swaps approx_count_distinct into the same "
    "frame and drops the Expand entirely.",
    tags=("stats", "profiling", "audit"),
)
def stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{c}__null"),
            F.countDistinct(c).cast("long").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__null, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_repr, max_repr)",
        "n_rows",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_repr", "max_repr")


# --- referential integrity audit ----------------------------------------


@register(
    "pipeline_integrity_audit",
    oracle="""
    SELECT 'orders_pk_dup' AS check_name,
           CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_violations
    FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) WHERE c > 1
    UNION ALL
    SELECT 'lineitem_orphan_order',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders_orphan_customer',
           CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'lineitem_orphan_part',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
    """,
    doc="Referential-integrity audit: PK duplicate mass (sum of extra "
    "copies per duplicated o_orderkey) and FK orphan counts for three "
    "edges of the star schema. Orphan checks are left-anti joins carrying "
    "ONLY the key column — broadcastable when the referenced key set is "
    "a dim, shuffle semi-join when it's a fact; either way no payload "
    "moves. The post-ingest gate a pipeline runs before publishing a "
    "snapshot. Keys here are non-null by construction, so NOT IN and "
    "anti-join agree.",
    tags=("pipeline", "audit"),
)
def pipeline_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    p = load_table(spark, "part", sf_dir)

    pk_dup = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.lit("orders_pk_dup").alias("check_name"),
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("long")
            .alias("n_violations"),
        )
    )

    def orphans(name, fact, key, dim, dim_key):
        return (
            fact.select(key)
            .join(dim.select(F.col(dim_key).alias(key)), key, "left_anti")
            .agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).cast("long").alias("n_violations"),
            )
        )

    return (
        pk_dup.unionAll(orphans("lineitem_orphan_order", li, "l_orderkey", o, "o_orderkey"))
        .unionAll(orphans("orders_orphan_customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(orphans("lineitem_orphan_part", li, "l_partkey", p, "p_partkey"))
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


# --- large x large interval overlap join ---------------------------------

_OVERLAP_ORACLE = """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER w, ts) > 1800
                  OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
             ts
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, sid,
             MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, sid
    ),
    promos AS (
      SELECT i AS promo_id,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 5) DAY AS p_start,
             TIMESTAMP '2024-01-01' + INTERVAL (i * 5 + 2) DAY AS p_end
      FROM range(6) t(i)
    )
    SELECT p.promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM promos p
    JOIN sessions s
      ON s.s_start <= p.p_end AND s.s_end >= p.p_start
    GROUP BY p.promo_id
"""


@register(
    "events_overlap_join_bucketed",
    oracle=_OVERLAP_ORACLE,
    doc="The SAME interval-overlap semantics as events_promo_overlap_join "
    "but through the large×large physical strategy "
    "(operators/interval.py::interval_overlap_join_bucketed): both interval "
    "sets explode into day buckets, equi-join on the bucket id (shuffle "
    "hash — no broadcast, no nested loop), exact-overlap re-check, and the "
    "first-common-bucket rule keeps each pair exactly once WITHOUT a "
    "DISTINCT. Sharing the nested-loop oracle proves the decomposition "
    "bit-equivalent; tests pin that the plan has no "
    "BroadcastNestedLoopJoin/CartesianProduct. This is the shape that "
    "survives when BOTH interval sets are fact-sized.",
    tags=("events", "interval", "join"),
)
def events_overlap_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from slr207_mapreduce_spark.operators.interval import (
        interval_overlap_join_bucketed,
    )

    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag("ts").over(w)
    gap_s = F.unix_seconds(F.col("ts")) - F.unix_seconds(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        e.select("user_id", "ts", F.sum(is_new).over(wsum).alias("sid"))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    promos = spark.range(6).select(
        F.col("id").alias("promo_id"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("id") * 5)
        ).alias("p_start"),
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=F.col("id") * 5 + 2)
        ).alias("p_end"),
    )
    j = interval_overlap_join_bucketed(
        sessions, promos, "s_start", "s_end", "p_start", "p_end",
        bucket_seconds=86400,
    )
    return j.groupBy("promo_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --- equi-depth histogram ------------------------------------------------

from slr207_mapreduce_spark.plans.analytics_r4c import _CENTS  # noqa: E402


@register(
    "agg_histogram_equidepth",
    oracle=f"""
    WITH ranked AS (
      SELECT {_CENTS} AS cents,
             NTILE(10) OVER (ORDER BY {_CENTS} ASC, l_orderkey ASC, l_linenumber ASC)
               AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents
    FROM ranked GROUP BY bucket
    """,
    doc="Equi-DEPTH histogram (10 buckets of equal row count) of "
    "l_extendedprice — the quantile-boundary profile range partitioning "
    "and skew diagnosis actually need (equi-width tells you where the "
    "mass is; equi-depth tells you where to CUT). The global rank comes "
    "from the distributed two-pass zipWithIndex (operators/ids.py) — NOT "
    "a single-partition NTILE window — and the bucket arithmetic is the "
    "same exact integer expression as window_ntile; the final per-bucket "
    "agg is one ordinary shuffle. Exact integer cents end to end.",
    tags=("agg", "histogram", "profiling"),
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    li = load_table(spark, "lineitem", sf_dir).select(
        F.expr(_CENTS).alias("cents"), "l_orderkey", "l_linenumber"
    )
    ranked = assign_sequential_ids(
        li,
        order_by=[F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        id_col="__rk",
    )
    n_row = li.agg(F.count(F.lit(1)).alias("__n"))
    return (
        ranked.join(F.broadcast(n_row))
        .select(
            "cents",
            (
                F.expr(
                    "CASE WHEN __rk < (__n % 10) * (__n div 10 + 1) "
                    "THEN __rk div (__n div 10 + 1) "
                    "ELSE (__n % 10) + (__rk - (__n % 10) * (__n div 10 + 1)) div (__n div 10) END"
                )
                + 1
            )
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("cents").cast("long").alias("lo_cents"),
            F.max("cents").cast("long").alias("hi_cents"),
        )
    )


# --- weighted priority sample --------------------------------------------

_WSAMPLE_U = (
    "CAST(('0x' || substring(md5('s77|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)
_WSAMPLE_W = "CASE WHEN lang = 'en' THEN 1 ELSE 5 END"


@register(
    "pipeline_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             ({_WSAMPLE_U}) // ({_WSAMPLE_W}) AS k
      FROM documents
    )
    ORDER BY k, doc_id
    LIMIT 100
    """,
    doc="Weighted priority sample (k=100, weights favor non-English docs "
    "5:1): sequential-Poisson-style sampling with priority key "
    "hash_uniform DIV weight — the k smallest keys win, so inclusion "
    "probability scales ~linearly with weight. The DIV (integer floor "
    "division, Spark `div` ≡ DuckDB `//`) keeps the key EXACT integer "
    "arithmetic — no float u/w whose cross-engine last-bit rounding "
    "could flip an ordering near the k-th boundary. Deterministic seed → "
    "reproducible sample; plans as TakeOrderedAndProject like "
    "pipeline_sample_exact_k (no global sort, no corpus shuffle). The "
    "corpus-rebalancing sampler (upweight scarce languages/sources) in "
    "one pass.",
    tags=("pipeline", "sampling", "topk"),
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.functions.portable import portable_hash64

    d = load_table(spark, "documents", sf_dir)
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            portable_hash64(F.col("doc_id").cast("string"), seed=77).alias("__u"),
            F.expr(_WSAMPLE_W).cast("long").alias("__w"),
        )
        .select(
            "doc_id", "lang", "source", F.expr("__u div __w").alias("k")
        )
        .orderBy(F.asc("k"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "source")
    )


# --- JL shortlist + exact rerank ANN -------------------------------------

from slr207_mapreduce_spark.operators.similarity import COSINE_SQL, cosine  # noqa: E402

_JL_Q = 10       # query set: vec_id < 10 (matches the other knn_* queries)
_JL_K = 5

# Shortlist budget auto-scales with corpus size (r10 VERDICT item 2): 150
# at the 500-vector anchor, +225 per corpus doubling — the SQL below
# computes the same integer from COUNT(*) (see
# operators/similarity.py:auto_jl_shortlist / budget_doublings_sql).
from slr207_mapreduce_spark.operators.similarity import (  # noqa: E402
    auto_jl_shortlist,
    budget_doublings_sql,
)

_JL_SHORT_SQL = (
    f"(SELECT 150 + 225 * ({budget_doublings_sql('SELECT COUNT(*) FROM embeddings')}))"
)

_JL_PROJ_CTE = "SELECT vec_id, " + ", ".join(
    f"{_proj_sql(k)} AS p{k}" for k in range(_PROJ_DIM)
) + " FROM embeddings"

_JL_PDOT = " + ".join(f"q.p{k}*c.p{k}" for k in range(_PROJ_DIM))


@register(
    "knn_jl_rerank",
    oracle=f"""
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
    """.replace("FROM ranked_src", "FROM rerank"),
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


# --- JSON ingest with quarantine -----------------------------------------

# Deterministic fixture: every 13th row's JSON is truncated to 10 chars —
# guaranteed invalid (no closing brace) — modeling the corrupt-record
# fraction of a real JSON-lines ingest.
_JSON_BUILD = (
    "concat('{\"id\": ', CAST(doc_id AS VARCHAR), ', \"lang\": \"', lang, "
    "'\", \"n\": ', CAST(n_chars AS VARCHAR), '}')"
)


@register(
    "pipeline_json_ingest_quarantine",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
                  THEN substring({_JSON_BUILD}, 1, 10)
                  ELSE {_JSON_BUILD} END AS js
      FROM documents
    )
    SELECT doc_id,
           NOT json_valid(js) AS is_quarantined,
           CASE WHEN json_valid(js)
                THEN CAST(json_extract(js, '$.id') AS BIGINT) END AS id_parsed,
           CASE WHEN json_valid(js)
                THEN json_extract_string(js, '$.lang') END AS lang_parsed,
           CASE WHEN json_valid(js)
                THEN CAST(json_extract(js, '$.n') AS BIGINT) END AS n_parsed
    FROM raw
    """,
    doc="JSON-lines ingest with corrupt-record quarantine: parse a JSON "
    "column against a schema in PERMISSIVE mode, route unparseable rows "
    "to a quarantine flag with NULL fields instead of failing the job — "
    "the standard resilient-ingest shape for web-scraped corpora where "
    "some fraction of records is always malformed. Spark: from_json "
    "(null struct on corrupt input); oracle: json_valid + json_extract. "
    "Pure projection, zero shuffle, codegen JSON parsing JVM-side.",
    tags=("pipeline", "json", "ingest"),
)
def pipeline_json_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    jb = _JSON_BUILD.replace("AS VARCHAR", "AS STRING")  # Spark spells it STRING
    js = F.expr(
        f"CASE WHEN doc_id % 13 = 0 THEN substring({jb}, 1, 10) ELSE {jb} END"
    )
    parsed = F.from_json(js, "id BIGINT, lang STRING, n BIGINT")
    return d.select(
        "doc_id",
        parsed.alias("p"),
    ).select(
        "doc_id",
        F.col("p.id").isNull().alias("is_quarantined"),
        F.col("p.id").alias("id_parsed"),
        F.when(F.col("p.id").isNotNull(), F.col("p.lang")).alias("lang_parsed"),
        F.col("p.n").alias("n_parsed"),
    )


# --- Unicode NFC normalization -------------------------------------------

import pandas as _pd  # noqa: E402


@F.pandas_udf(StringType())
def _nfc_udf(col: _pd.Series) -> _pd.Series:
    # module-level definition: get_type_hints must resolve the (stringified,
    # future-annotations) signature against module globals
    import unicodedata

    return col.map(lambda s: unicodedata.normalize("NFC", s))



@register(
    "text_unicode_nfc",
    oracle="""
    WITH decorated AS (
      SELECT doc_id,
             substring(text, 1, 8) || 'e' || chr(769) || 'A' || chr(768) AS s
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(s) AS nfc,
           CAST(length(s) AS BIGINT) AS len_before,
           CAST(length(nfc_normalize(s)) AS BIGINT) AS len_after,
           (nfc_normalize(s) <> s) AS changed
    FROM decorated
    """,
    doc="Unicode NFC normalization — the canonical-composition pass a "
    "dedup pipeline MUST run before hashing (the same text with composed "
    "vs combining-mark code points hashes differently and silently "
    "defeats exact dedup). Spark lacks a built-in normalizer, so this is "
    "a deliberate Arrow-batched pandas UDF over Python's unicodedata; "
    "the oracle is DuckDB's native nfc_normalize — two independent "
    "Unicode implementations agreeing byte-for-byte is the point of the "
    "check. The fixture appends combining sequences (e+U+0301, A+U+0300) "
    "so every row exercises real composition, not ASCII identity.",
    tags=("text", "unicode", "udf"),
)
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    nfc = _nfc_udf
    d = load_table(spark, "documents", sf_dir)
    s = F.concat(
        F.substring("text", 1, 8), F.lit("é"), F.lit("À")
    )
    return d.select("doc_id", s.alias("s")).select(
        "doc_id",
        nfc(F.col("s")).alias("nfc"),
        F.length("s").cast("long").alias("len_before"),
        F.length(nfc(F.col("s"))).cast("long").alias("len_after"),
        (nfc(F.col("s")) != F.col("s")).alias("changed"),
    )


# --- CSV ingest with per-field quarantine --------------------------------


@register(
    "pipeline_csv_ingest_quarantine",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CAST(doc_id AS VARCHAR) || ',' || lang || ',' ||
             CASE WHEN doc_id % 11 = 0 THEN 'not-a-number'
                  ELSE CAST(n_chars AS VARCHAR) END AS line
      FROM documents
    )
    SELECT doc_id,
           string_split(line, ',')[1] IS NOT NULL
             AND TRY_CAST(string_split(line, ',')[3] AS BIGINT) IS NULL
             AS bad_n_field,
           TRY_CAST(string_split(line, ',')[1] AS BIGINT) AS id_parsed,
           string_split(line, ',')[2] AS lang_parsed,
           TRY_CAST(string_split(line, ',')[3] AS BIGINT) AS n_parsed
    FROM raw
    """,
    doc="CSV-lines ingest with per-FIELD quarantine: from_csv in "
    "PERMISSIVE mode nulls only the malformed column (here a non-numeric "
    "value in a BIGINT field on every 11th row) while the row's other "
    "fields survive — the CSV sibling of the JSON corrupt-record path "
    "(there the whole record dies; here the damage is column-local). "
    "Oracle: string_split + TRY_CAST. Pure projection, zero shuffle.",
    tags=("pipeline", "csv", "ingest"),
)
def pipeline_csv_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    line = F.expr(
        "concat(CAST(doc_id AS STRING), ',', lang, ',', "
        "CASE WHEN doc_id % 11 = 0 THEN 'not-a-number' "
        "ELSE CAST(n_chars AS STRING) END)"
    )
    parsed = F.from_csv(line, "id BIGINT, lang STRING, n BIGINT")
    return d.select("doc_id", parsed.alias("p")).select(
        "doc_id",
        (F.col("p.id").isNotNull() & F.col("p.n").isNull()).alias("bad_n_field"),
        F.col("p.id").alias("id_parsed"),
        F.col("p.lang").alias("lang_parsed"),
        F.col("p.n").alias("n_parsed"),
    )


# --- vocabulary coverage / OOV rate --------------------------------------


@register(
    "text_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tt AS (SELECT doc_id, term FROM toks WHERE length(term) > 0),
    vocab AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS tf,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS r
        FROM tt GROUP BY term
      ) WHERE r <= 200
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.term IS NULL) AS BIGINT) AS n_oov,
           CAST((COUNT(*) FILTER (WHERE v.term IS NULL)) * 1000000 // COUNT(*)
                AS BIGINT) AS oov_rate_e6
    FROM tt t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.doc_id
    """,
    doc="Per-document out-of-vocabulary rate against the corpus's own "
    "top-200 term vocabulary (deterministic count-desc/term-asc cut) — "
    "the tokenizer-coverage QA every corpus drop runs before training "
    "(high OOV flags garbled text, wrong language, or a stale vocab). "
    "Vocabulary is a TakeOrdered top-K broadcast into a left join; the "
    "rate is integer fixed-point (×1e6 floor-div) so the check is "
    "bit-strict. Two aggregations + one broadcast join; token rows "
    "shuffle once on term and once on doc_id.",
    tags=("text", "vocab", "qa"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term")).where(
        F.length("term") > 0
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(200)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000) div n_tokens").alias("oov_rate_e6"),
        )
    )


# --- profile drift between snapshots -------------------------------------


def _slice_profile_sql(pred: str, label: str) -> str:
    return f"""
    SELECT '{label}' AS snapshot,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS en_share_e6
    FROM documents WHERE {pred}
    """


@register(
    "stats_profile_drift",
    oracle=f"""
    WITH a AS ({_slice_profile_sql("doc_id % 2 = 0", "base")}),
    b AS ({_slice_profile_sql("doc_id % 2 = 1", "candidate")})
    SELECT a.n_docs AS base_docs, b.n_docs AS cand_docs,
           b.n_docs - a.n_docs AS docs_delta,
           b.total_chars - a.total_chars AS chars_delta,
           b.en_share_e6 - a.en_share_e6 AS en_share_delta_e6,
           (ABS(b.en_share_e6 - a.en_share_e6) > 50000) AS drift_alarm
    FROM a, b
    """,
    doc="Snapshot drift detection: profile two corpus slices (stand-ins "
    "for yesterday's and today's drops) with the same single-pass "
    "metrics, join the two 1-row profiles, and emit deltas plus a "
    "threshold alarm (en-share moving >5% flags an ingestion mix "
    "change). The distribution-shift gate a production pipeline runs "
    "between snapshot publishes; shares are integer fixed-point so the "
    "alarm predicate is bit-deterministic. Each profile is one "
    "partial-aggregable pass; the final join is 1×1.",
    tags=("stats", "profiling", "drift"),
)
def stats_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)

    def prof(pred):
        return d.where(pred).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.expr(
                "(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000) div count(1)"
            ).alias("en_share_e6"),
        )

    a = prof(F.col("doc_id") % 2 == 0).select(
        F.col("n_docs").alias("base_docs"),
        F.col("total_chars").alias("a_chars"),
        F.col("en_share_e6").alias("a_en"),
    )
    b = prof(F.col("doc_id") % 2 == 1).select(
        F.col("n_docs").alias("cand_docs"),
        F.col("total_chars").alias("b_chars"),
        F.col("en_share_e6").alias("b_en"),
    )
    return a.crossJoin(b).select(
        "base_docs",
        "cand_docs",
        (F.col("cand_docs") - F.col("base_docs")).alias("docs_delta"),
        (F.col("b_chars") - F.col("a_chars")).alias("chars_delta"),
        (F.col("b_en") - F.col("a_en")).alias("en_share_delta_e6"),
        (F.abs(F.col("b_en") - F.col("a_en")) > 50000).alias("drift_alarm"),
    )


# --- deterministic exact mode --------------------------------------------


@register(
    "agg_mode_exact",
    oracle="""
    WITH vc AS (
      SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT l_returnflag, v, c,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, v ASC) AS r
      FROM vc
    )
    SELECT l_returnflag,
           v AS mode_quantity,
           CAST(c AS BIGINT) AS mode_count
    FROM ranked WHERE r = 1
    """,
    doc="Exact per-group mode with a DETERMINISTIC tie-break (count desc, "
    "value asc) — the built-in mode() leaves ties implementation-defined, "
    "which fails the bit-reproducibility contract. Two-level aggregation: "
    "(group, value) counts (map-side combinable) then per-group argmax "
    "via max_by over a (count, -value)-ordered struct — no window, no "
    "sort, two shuffles whose second carries one row per (group, value).",
    tags=("agg", "mode"),
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    vc = li.groupBy("l_returnflag", F.col("l_quantity").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # argmax by (c desc, v asc): order struct (c, -v) descending via max_by
    return (
        vc.groupBy("l_returnflag")
        .agg(
            F.expr("max_by(v, struct(c, -v))").alias("mode_quantity"),
            F.expr("max(struct(c, -v)).c").cast("long").alias("mode_count"),
        )
    )


# --- binary encodings (base64 / hex) -------------------------------------


@register(
    "scalar_binary_encodings",
    oracle="""
    SELECT doc_id,
           to_base64(CAST(substring(text, 1, 12) AS BLOB)) AS b64,
           hex(CAST(substring(text, 1, 12) AS BLOB)) AS hx,
           CAST(unhex(hex(CAST(substring(text, 1, 12) AS BLOB))) AS VARCHAR)
             AS roundtrip
    FROM documents
    """,
    doc="Binary transport encodings: base64 and hex of a text-derived "
    "payload plus the unhex round-trip — the blob-key/serialization "
    "surface (content digests travel as hex, payloads as base64 in JSON "
    "envelopes). Spark base64/hex/unhex against DuckDB's to_base64/hex/"
    "unhex — independent codec implementations agreeing byte-for-byte. "
    "Pure projection, zero shuffle.",
    tags=("scalar", "binary"),
)
def scalar_binary_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    payload = F.encode(F.substring("text", 1, 12), "UTF-8")
    return d.select(
        "doc_id",
        F.base64(payload).alias("b64"),
        F.hex(payload).alias("hx"),
        F.decode(F.unhex(F.hex(payload)), "UTF-8").alias("roundtrip"),
    )


# --- capped sessionization (gap + max-duration) --------------------------

_SESS_GAP_S = 1800   # 30-min inactivity gap (matches events_sessionization)
_SESS_CAP_S = 7200   # 2-hour hard session cap

_SESS_SCHEMA = (
    "user_id BIGINT, session_id BIGINT, n_events BIGINT, "
    "s_start TIMESTAMP, s_end TIMESTAMP"
)


def _cap_sessions_fn(pdf):
    # per-user sequential scan: the cap makes session assignment depend on
    # the CURRENT session's start, which no single window pass can express
    pdf = pdf.sort_values(["ts", "event_id"])
    sid, start, prev = 0, None, None
    ids = []
    for ts in pdf["ts"]:
        if (
            prev is None
            or (ts - prev).total_seconds() > _SESS_GAP_S
            or (ts - start).total_seconds() > _SESS_CAP_S
        ):
            sid += 1
            start = ts
        ids.append(sid)
        prev = ts
    pdf = pdf.assign(session_id=ids)
    out = (
        pdf.groupby("session_id", as_index=False)
        .agg(
            user_id=("user_id", "first"),
            n_events=("ts", "size"),
            s_start=("ts", "min"),
            s_end=("ts", "max"),
        )
    )
    return out[["user_id", "session_id", "n_events", "s_start", "s_end"]]


_SESS_CAPPED_ORACLE = f"""
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, rn, ts, ts AS s_start, 1 AS sid
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.ts,
             CASE WHEN date_diff('second', r.ts, e.ts) > {_SESS_GAP_S}
                    OR date_diff('second', r.s_start, e.ts) > {_SESS_CAP_S}
                  THEN e.ts ELSE r.s_start END,
             r.sid + CASE WHEN date_diff('second', r.ts, e.ts) > {_SESS_GAP_S}
                            OR date_diff('second', r.s_start, e.ts) > {_SESS_CAP_S}
                          THEN 1 ELSE 0 END
      FROM rec r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id,
           CAST(sid AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS s_start,
           MAX(ts) AS s_end
    FROM rec GROUP BY user_id, sid
    """


@register(
    "events_sessionization_capped",
    oracle=_SESS_CAPPED_ORACLE,
    doc="Sessionization with BOTH a 30-min inactivity gap AND a 2-hour "
    "hard duration cap. The cap makes session assignment inherently "
    "sequential (a break depends on the CURRENT session's start, which "
    "depends on all earlier breaks) — not expressible as one window "
    "pass, so this is the textbook applyInPandas case: per-user "
    "sequential scan, partition-parallel across users, state bounded by "
    "one user's events. Oracle: per-user recursive CTE threading "
    "(s_start, sid) through the same break predicate. The capped variant "
    "is what real funnels use — without the cap, a bot pinging every "
    "29 minutes produces an unbounded session.",
    tags=("events", "session", "udf"),
)
def events_sessionization_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id")
    return e.groupBy("user_id").applyInPandas(_cap_sessions_fn, schema=_SESS_SCHEMA)


@register(
    "events_sessionization_capped_segmented",
    oracle=_SESS_CAPPED_ORACLE,
    doc="Heavy-hitter-safe variant of events_sessionization_capped — same "
    "semantics (same oracle), vectorized execution: one group per user "
    "(no group-count explosion), with the group body splitting gap-runs "
    "via one numpy diff and advancing by SESSION with searchsorted "
    "(<= duration/cap + 1 steps per run) instead of looping every event "
    "in Python. A bot user with 10^6 gap-free events costs one "
    "vectorized sort + ~10^4 searchsorted calls instead of 10^6 "
    "interpreter iterations; measured 9.5 s vs the loop's 17 s on the "
    "98%-skew fixture and 6 s vs 12 s at sf1 (see SCALE.md round-6 note "
    "and tests/test_skew_and_io.py).",
    tags=("events", "session", "udf", "skew"),
)
def events_sessionization_capped_segmented(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from slr207_mapreduce_spark.operators.skew import capped_sessions_segmented

    e = load_table(spark, "events", sf_dir)
    return capped_sessions_segmented(e, gap_s=_SESS_GAP_S, cap_s=_SESS_CAP_S)


# --- schema evolution (mergeSchema semantics at the operator level) -------


@register(
    "pipeline_schema_evolution_union",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 2 = 0
    ),
    v2 AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, lang,
             (n_chars > 500) AS long_flag
      FROM documents WHERE doc_id % 2 = 1
    ),
    unified AS (
      SELECT doc_id, n_chars, NULL AS lang, NULL AS long_flag FROM v1
      UNION ALL
      SELECT doc_id, n_chars, lang, long_flag FROM v2
    )
    SELECT COALESCE(lang, 'legacy') AS lang_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(*) FILTER (WHERE long_flag) AS BIGINT) AS n_long
    FROM unified
    GROUP BY COALESCE(lang, 'legacy')
    """,
    doc="Schema evolution: a corpus written in batches whose schema GREW "
    "over time (v1 rows lack the later lang/long_flag columns) is unified "
    "with unionByName(allowMissingColumns=True) — missing columns nulled, "
    "never positional-matched — and stays aggregable downstream with "
    "legacy rows bucketed explicitly. This is the operator-level twin of "
    "parquet's mergeSchema scan option (same null-fill semantics, pinned "
    "against a real two-batch parquet directory read in "
    "tests/test_skew_and_io.py::test_merge_schema_scan_matches_union); "
    "the registered query stays hermetic (no file writes in the driver's "
    "session). At 100 TB schema evolution is the NORM for multi-year "
    "corpora: the union is still one scan per batch + one exchange for "
    "the final aggregate, and Catalyst prunes the missing-column nulls "
    "like any literal.",
    tags=("pipeline", "schema", "ingest"),
)
def pipeline_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    v1 = d.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    v2 = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        "lang",
        (F.col("n_chars") > 500).alias("long_flag"),
    )
    unified = v1.unionByName(v2, allowMissingColumns=True)
    return unified.groupBy(
        F.coalesce(F.col("lang"), F.lit("legacy")).alias("lang_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count_if(F.col("long_flag")).cast("long").alias("n_long"),
    )
