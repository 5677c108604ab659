"""Training-data pipeline widening, round 3.

Both queries are capability-closure derivations of the reference's
MapReduce primitives (SURVEY.md §2.1): per-record map with fan-out =
WorkerSender.java:216-230 (O5, one line → many tokens generalizes to one
doc → many chunks), keyed/total-order reduce = ListenerReducer.java:123-139
+ the sort comparator ValueThenKeyComparator.java:7-14 (O9/O11).

- pipeline_chunk_documents: overlapping fixed-token-window chunking — the
  context-window prep step between cleaning and packing in every LLM
  corpus build (pack_sequences lays whole docs end-to-end; chunking cuts
  LONG docs down so no single document spans many packs). Chunk count and
  boundaries are pure integer arithmetic on the token count, so the whole
  operator is a scan-stage projection + explode: zero shuffles, and the
  chunk fan-out multiplies rows AFTER the narrow scan — exactly the shape
  that survives a 100 TB corpus (each task chunks only its own split).
- pipeline_global_shuffle: seeded deterministic corpus shuffle — the
  reproducible training-order primitive (same seed ⇒ same order on any
  cluster layout). Ordering key is the md5 of seed|doc_id, so the "random"
  permutation is data-independent and re-derivable; the dense 0..N-1
  position comes from operators/ids.py::assign_sequential_ids (range-sort
  + per-partition offsets + one JVM ordinal projection), NOT a global-window
  row_number that would collapse onto one task. The oracle's ROW_NUMBER
  is the single-task formulation of the identical total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slr207_mapreduce_spark.operators.text import tokens_ws
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table

CHUNK_TOKENS = 256
CHUNK_STRIDE = 192  # 64-token overlap between consecutive chunks


@register(
    "pipeline_chunk_documents",
    # Token-explode formulation, NOT a per-chunk list_slice: slicing the
    # full token list inside the chunk lateral re-copies the list per chunk
    # row in DuckDB (O(chunks x tokens) per doc — 60 s on one 100k-token
    # doc, tests/test_longdoc.py). Here each token is zipped with its
    # 1-based position (parallel unnest), assigned to the <= 2 overlapping
    # chunks that contain it by integer range arithmetic, and re-joined to
    # the chunk spine (LEFT, so a 0-token doc keeps its single empty
    # chunk) — O(tokens) total.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> length(t) > 0) AS t
      FROM documents
    ),
    sized AS (
      SELECT doc_id, len(t) AS n_tok,
             CASE WHEN len(t) <= {CHUNK_TOKENS} THEN 1
                  ELSE 1 + (len(t) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1})
                           // {CHUNK_STRIDE}
             END AS n_chunks,
             t
      FROM toks
    ),
    spine AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx
      FROM sized, UNNEST(range(0, n_chunks)) AS u(i)
    ),
    posed AS (
      SELECT doc_id, n_chunks,
             unnest(t) AS tok,
             unnest(range(1, len(t) + 1)) AS pos
      FROM sized
    ),
    assigned AS (
      SELECT doc_id, tok, pos, CAST(i AS BIGINT) AS chunk_idx
      FROM posed,
           UNNEST(range(greatest((pos - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1})
                                   // {CHUNK_STRIDE}, 0),
                        least((pos - 1) // {CHUNK_STRIDE}, n_chunks - 1) + 1))
             AS c(i)
    ),
    filled AS (
      SELECT doc_id, chunk_idx,
             CAST(COUNT(*) AS BIGINT) AS n_chunk_tok,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM assigned GROUP BY doc_id, chunk_idx
    )
    SELECT s.doc_id,
           s.chunk_idx,
           s.chunk_idx * {CHUNK_STRIDE} AS chunk_start,
           COALESCE(f.n_chunk_tok, 0) AS n_chunk_tok,
           COALESCE(f.chunk_text, '') AS chunk_text
    FROM spine s
    LEFT JOIN filled f ON s.doc_id = f.doc_id AND s.chunk_idx = f.chunk_idx
    """,
    doc=f"Overlapping context-window chunking: {CHUNK_TOKENS}-token windows "
    f"at stride {CHUNK_STRIDE} (consecutive chunks share "
    f"{CHUNK_TOKENS - CHUNK_STRIDE} tokens). Chunk count is integer "
    "arithmetic on the token count, so the operator is projection + "
    "explode in the scan stage — no shuffle, per-split fan-out only.",
    tags=("pipeline", "chunking"),
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    # Tokenize once in its own projection (no CSE across the explode tree).
    toks = d.select("doc_id", tokens_ws("text").alias("t"))
    n_chunks = F.when(F.size("t") <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.lit(1)
        + F.expr(
            f"(size(t) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE}"
        )
    )
    sized = toks.select("doc_id", "t", n_chunks.alias("n_chunks"))
    exploded = sized.select(
        "doc_id",
        "t",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("i"),
    )
    chunk = F.expr(f"slice(t, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})")
    return exploded.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_idx"),
        (F.col("i") * CHUNK_STRIDE).cast("long").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@register(
    "pipeline_global_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5('epoch7|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key ASC, doc_id ASC) - 1
                AS BIGINT) AS seq_id
    FROM keyed
    """,
    doc="Seeded deterministic corpus shuffle: position = dense rank in "
    "md5('epoch7|'||doc_id) order — same seed, same permutation, on any "
    "cluster layout (the reproducible training-order primitive). The "
    "rank is computed by the distributed two-pass id assigner "
    "(operators/ids.py), not a single-task global window; the oracle's "
    "ROW_NUMBER states the same total order declaratively.",
    tags=("pipeline", "shuffle"),
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.md5(F.concat(F.lit("epoch7|"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    )
    return assign_sequential_ids(d, order_by=["shuffle_key", "doc_id"])
