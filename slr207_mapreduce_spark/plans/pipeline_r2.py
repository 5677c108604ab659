"""Training-data pipeline widening, round 2 (BASELINE.json north-star).

All are capability-closure derivations of the reference's MapReduce
primitives (SURVEY.md §2.1): per-record map = WorkerSender.java:216-230
(O5-O7), keyed reduce = ListenerReducer.java:123-139 (O9); the iterative
clustering additionally chains O8 shuffle rounds.

- dedup_semantic_clusters: embedding-space near-dup PAIRS → duplicate
  GROUPS via connected components — the semantic-dedup counterpart of
  dedup_clusters (which clusters MinHash-LSH lexical candidates). Same
  iterative min-label propagation operator, different candidate modality.
- pipeline_repetition_filter: Gopher-style repetition gate — the
  duplicate-n-gram ratio per document, computed entirely with array
  expressions (no explode, no shuffle): a scan-speed quality filter.
- udf_map_in_arrow: mapInArrow coverage — the zero-copy Arrow batch API
  (one rung below mapInPandas: no pandas conversion at all). The batch
  computation is done with pyarrow.compute kernels and checked against a
  pure-SQL oracle.
- window_numeric_range_frame: RANGE frame over a NUMERIC ordering column
  (value-distance frames; peer-inclusive) — completes the frame matrix:
  ROWS (window_running/sliding_frame), time-RANGE (events_range_frame_1h),
  numeric-RANGE (here).
- scalar_map_higher_order: map lambda functions (transform_values,
  map_filter, map_zip_with) — DuckDB has no map lambdas, so the oracle
  computes the expected outputs directly from the same inputs: an
  independent-construction check rather than a same-function check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import dec
from slr207_mapreduce_spark.operators.graph import connected_components
from slr207_mapreduce_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_neardup_sql,
)
from slr207_mapreduce_spark.operators.text import tokens_ws
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, name, sf_dir)


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({cosine_neardup_sql(threshold=0.2, bits=8)})
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, reach.r
      FROM reach JOIN edges e ON e.src = reach.node
    )
    SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
    """,
    doc="Semantic dedup: embedding-cosine near-dup pairs (sign-bit-bucketed "
    "join, cos >= 0.2) transitively closed into duplicate clusters by "
    "min-label propagation (O(diameter) rounds, lineage checkpointed). "
    "Keep-rule downstream is one row_number per cluster_id. The embedding-"
    "space sibling of dedup_clusters (MinHash modality) — a real corpus "
    "curation run executes BOTH and unions the edge sets before closure. "
    "Oracle: recursive-CTE transitive closure over the identical pair SQL.",
    tags=("dedup", "similarity", "graph", "iterative"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    pairs = cosine_neardup_pairs(e, threshold=0.2, bits=8)
    return connected_components(pairs, src="id_a", dst="id_b")


@register(
    "pipeline_repetition_filter",
    # Bigrams/trigrams via index-lambda over a range — the one array-HOF
    # form whose lambda is single-parameter in BOTH engines (DuckDB lambda
    # index params and struct-typed list_zip output are not portable).
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             len(t) AS n_tokens,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS bigrams,
             list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS trigrams
      FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / CAST(len(bigrams) AS DOUBLE) AS dup_bigram_ratio,
           1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE) / CAST(len(trigrams) AS DOUBLE) AS dup_trigram_ratio,
           (1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / CAST(len(bigrams) AS DOUBLE)) > 0.2 AS flag_repetitive
    FROM grams
    """,
    doc="Gopher-style repetition gate: duplicate-bigram/-trigram ratios per "
    "document, flag when >20% of bigrams repeat. N-grams are built with an "
    "index-lambda over sequence() and deduped with array_distinct — pure "
    "array expressions inside the scan stage: no explode, no shuffle, no "
    "Python. At 100 TB this runs at scan speed like the other text gates "
    "(SCALE.md), and its integer-ratio outputs are exact.",
    tags=("text", "pipeline"),
)
def pipeline_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = tokens_ws("text")
    toks = d.select("doc_id", "source", t.alias("t")).where(F.size("t") >= 3)

    def grams(n: int):
        # zip_with over n shifted slices of the token array — NOT an
        # index-lambda (transform over sequence() with element_at(t, i+j)).
        # The index form references `t` as a FREE variable inside the
        # lambda; when a downstream filter is pushed through the projection,
        # alias substitution inlines the full tokenize expression there and
        # interpreted HOF eval recomputes filter(split(text)) PER ELEMENT —
        # O(tokens²) per doc, a multi-minute hang on one 100k-token doc
        # (tests/test_longdoc.py). zip_with lambdas touch only their own
        # element variables, so even a fully-inlined tokenizer is evaluated
        # once per slice argument — O(n·tokens) worst case.
        ln = F.greatest(F.size("t") - (n - 1), F.lit(0))
        slices = [F.slice(F.col("t"), j + 1, ln) for j in range(n)]
        out = slices[-1]
        for s in reversed(slices[:-1]):
            out = F.zip_with(s, out, lambda a, b: F.concat(a, F.lit(" "), b))
        return out

    g = toks.select(
        "doc_id",
        "source",
        F.size("t").cast("long").alias("n_tokens"),
        grams(2).alias("bigrams"),
        grams(3).alias("trigrams"),
    )
    dup = lambda c: F.lit(1.0) - (  # noqa: E731
        F.size(F.array_distinct(c)).cast("double") / F.size(c).cast("double")
    )
    return g.select(
        "doc_id",
        "source",
        "n_tokens",
        dup(F.col("bigrams")).alias("dup_bigram_ratio"),
        dup(F.col("trigrams")).alias("dup_trigram_ratio"),
        (dup(F.col("bigrams")) > 0.2).alias("flag_repetitive"),
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS the_count
    FROM documents
    """,
    doc="mapInArrow: per-batch pyarrow.compute kernels (utf8_length, "
    "binary length, count_substring) with ZERO pandas/python-object "
    "conversion — the fastest Python escape hatch Spark has. Batches stay "
    "Arrow end-to-end; executor memory per task is one record batch. The "
    "oracle recomputes the same quantities in pure SQL.",
    tags=("udf", "arrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def feats(batches):
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, "the"), pa.int64()),
                ],
                names=["doc_id", "n_chars", "n_bytes", "the_count"],
            )

    return d.mapInArrow(
        feats, "doc_id long, n_chars long, n_bytes long, the_count long"
    )


@register(
    "window_numeric_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(count(*) OVER w AS BIGINT) AS n_within_1k,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_within_1k
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC
                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)
    """,
    doc="RANGE frame over a NUMERIC ordering column: each order sees the "
    "peers within $1000 below it — value-distance framing, peer-inclusive "
    "(ties share a frame), vs the positional ROWS frames. Completes the "
    "frame matrix with window_running/sliding_frame (ROWS) and "
    "events_range_frame_1h (time RANGE). Frame sums go through exact "
    "DECIMAL; one shuffle on the partition key.",
    tags=("window",),
)
def window_numeric_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.asc("o_totalprice"))
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count("*").over(w).alias("n_within_1k"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("sum_within_1k"),
    )


@register(
    "scalar_map_higher_order",
    # DuckDB has no map lambdas — the oracle constructs the expected
    # outputs directly from the same scalar inputs (independent
    # construction, not same-function echo).
    oracle="""
    SELECT event_id,
           CAST(value * 2 AS DOUBLE) AS doubled_value,
           CASE WHEN value > 50.0 THEN 'value:' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR)
                ELSE '' END AS kept_str,
           CAST(CAST(value AS DECIMAL(12,2)) + CAST(user_id AS DECIMAL(12,2)) AS DOUBLE) AS zipped_sum
    FROM events WHERE event_id < 200
    """,
    doc="Map-type lambda functions: transform_values (per-entry rescale), "
    "map_filter (entry predicate), map_zip_with (two-map combine) — "
    "evaluated JVM-side like the array HOFs. Outputs are extracted back to "
    "scalars; DuckDB lacks map lambdas, so the oracle derives the expected "
    "values independently from the raw columns (decimal-exact where "
    "doubles are combined).",
    tags=("scalar", "map", "higher_order"),
)
def scalar_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    m = F.create_map(F.lit("v"), F.col("value"))
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(m, lambda k, v: v > 50.0)
    dec_map = F.create_map(F.lit("v"), dec("value"))
    uid_map = F.create_map(F.lit("v"), F.col("user_id").cast("decimal(12,2)"))
    zipped = F.map_zip_with(dec_map, uid_map, lambda k, a, b: a + b)
    kept_str = F.concat_ws(
        "",
        F.transform(
            F.map_values(kept),
            lambda v: F.concat(F.lit("value:"), dec(v).cast("string")),
        ),
    )
    return e.select(
        "event_id",
        F.element_at(doubled, "v").cast("double").alias("doubled_value"),
        kept_str.alias("kept_str"),
        F.element_at(zipped, "v").cast("double").alias("zipped_sum"),
    )


@register(
    "pipeline_curation_end_to_end",
    # The full curation chain in ONE query, oracled end-to-end: quality
    # gate -> exact-dedup keep -> deterministic split -> accounting.
    oracle=r"""
    WITH feats AS (
      SELECT doc_id, lang, text,
             len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_tokens
      FROM documents
    ),
    gated AS (
      SELECT doc_id, lang, text, n_tokens FROM feats WHERE n_tokens >= 10
    ),
    kept AS (
      SELECT doc_id, lang, n_tokens
      FROM (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    split AS (
      SELECT lang, n_tokens,
             CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT lang, n_tokens,
                   (CAST(('0x' || substring(md5('s42|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100) % 10 AS b
            FROM kept)
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM split
    GROUP BY split, lang
    """,
    doc="The curation pipeline COMPOSED end-to-end in one plan: token-count "
    "quality gate (scan-stage projection) -> exact-dedup keep (one shuffle "
    "on md5(text); min-doc_id canonical via row_number) -> deterministic "
    "hash split (stateless row map, pipeline_train_split's policy) -> per "
    "(split, lang) token accounting. One payload shuffle total: the gates "
    "and split assignment ride the scan, dedup is (hash, id, n_tokens) "
    "rows, and the final aggregation is partial->final over a tiny key "
    "domain. This is the shape a 100 TB curation run actually executes — "
    "each stage is individually declared (text_token_count, dedup_exact, "
    "pipeline_train_split) and the composition costs no extra pass.",
    tags=("pipeline", "dedup", "text"),
)
def pipeline_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.functions.portable import portable_hash64

    d = _t(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id", "lang", "text", F.size(tokens_ws("text")).cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") >= 10)
    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    kept = (
        feats.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    b = (portable_hash64(F.col("doc_id").cast("string"), seed=42) % 100) % 10
    split = (
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test").alias("split")
    )
    return (
        kept.select(split, "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# DuckDB has no soundex() builtin, so the oracle spells out the algorithm
# Spark implements (verified against Spark on the canonical vectors:
# Ashcraft->A261, Tymczak->T522, Pfister->P236, Honeyman->H555, white->W300):
#  1. map letters to codes with '9' marking H/W (which are TRANSPARENT —
#     same codes separated by h/w collapse) and '0' marking vowels+Y
#     (which BREAK adjacency);
#  2. delete the '9's, collapse adjacent equal codes;
#  3. drop the first letter's own code run (unless the word starts with
#     H/W, whose code never entered the string), delete the '0's, pad to
#     three digits behind the retained first letter.
# Adjacent-collapse uses an index lambda (RE2 has no backreferences for a
# regex collapse); words are <= ~15 chars so the O(len^2) inlining hazard
# (tests/test_longdoc.py) is bounded.
def soundex_coded_cte_sql(words_relation: str = "words") -> str:
    """CTE chain computing ``coded(w, code)`` — Russell soundex of column
    ``w`` from ``{words_relation}`` — for DuckDB. Reused by the phonetic
    oracle and property-tested against an independent Python soundex in
    tests/test_pipeline_queries.py."""
    return f"""
    mapped AS (
      SELECT w, upper(w) AS u,
             replace(translate(upper(w),
                               'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                               '01230129022455012623019202'),
                     '9', '') AS m2
      FROM {words_relation}
    ),
    collapsed AS (
      -- COALESCE: DuckDB's array_to_string([]) is NULL, not '' — hit when
      -- the word is nothing but H/W letters (empty m2; found by the
      -- hypothesis sweep in test_pipeline_queries)
      SELECT w, u,
             COALESCE(array_to_string(
               list_transform(range(1, length(m2) + 1),
                 i -> CASE WHEN i = 1
                             OR substring(m2, CAST(i AS INTEGER), 1)
                                <> substring(m2, CAST(i - 1 AS INTEGER), 1)
                           THEN substring(m2, CAST(i AS INTEGER), 1)
                           ELSE '' END),
               ''), '') AS c
      FROM mapped
    ),
    coded AS (
      SELECT w,
             substring(u, 1, 1) ||
             substring(
               replace(CASE WHEN substring(u, 1, 1) IN ('H', 'W')
                            THEN c ELSE substring(c, 2) END, '0', '')
               || '000', 1, 3) AS code
      FROM collapsed
    )"""


_SOUNDEX_ORACLE = f"""
    WITH words AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(p_name, ' ')) AS w FROM part
      ) WHERE length(w) > 0
    ),
    {soundex_coded_cte_sql("words")}
    SELECT a.code, a.w AS word_a, b.w AS word_b,
           CAST(levenshtein(a.w, b.w) AS BIGINT) AS edit_dist
    FROM coded a JOIN coded b ON a.code = b.code AND a.w < b.w
    """


@register(
    "pipeline_phonetic_blocking",
    # Full oracle since round 4 (SQL soundex above); Spark's soundex stays
    # independently pinned against a pure-Python Russell-soundex over every
    # blocking key in tests/test_pipeline_queries.py::
    # test_soundex_matches_independent_python_implementation.
    oracle=_SOUNDEX_ORACLE,
    doc="Phonetic record linkage: the distinct part-name vocabulary blocked by "
    "soundex() — names that SOUND alike meet in the same block even when "
    "they differ in spelling beyond small edit distance (the failure "
    "mode of pipeline_fuzzy_name_pairs' first-char blocking). The query "
    "returns every in-block candidate pair with its edit distance — the "
    "verify threshold is downstream policy. Blocking is an equi-join on "
    "the 4-char code, so candidate generation stays shuffle-hash-"
    "joinable at any scale; soundex is a codegen'd JVM expression.",
    tags=("pipeline", "text", "join"),
)
def pipeline_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        load_table(spark, "part", sf_dir)
        .select(F.explode(F.split(F.col("p_name"), " ")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
    )
    coded = words.select("w", F.soundex("w").alias("code"))
    a = coded.select(F.col("w").alias("word_a"), "code")
    b = coded.select(F.col("w").alias("word_b"), "code")
    return (
        a.join(b, ["code"])
        .where(F.col("word_a") < F.col("word_b"))
        .select(
            "code",
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("long").alias("edit_dist"),
        )
        .orderBy("code", "word_a", "word_b")
    )


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, source, n_chars,
             len(list_filter(string_split_regex(text, '\\s+'),
                             t -> length(t) > 0)) AS n_tok
      FROM documents
    ),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_tok) AS BIGINT) AS total_ws_tokens,
             CAST(COUNT(*) FILTER (WHERE n_chars < 100) AS BIGINT) AS short_docs
      FROM base
    ),
    by_lang AS (
      SELECT lang, COUNT(*) AS c FROM base GROUP BY lang
      ORDER BY c DESC, lang ASC LIMIT 1
    )
    SELECT corpus.*, by_lang.lang AS top_lang,
           CAST(by_lang.c AS BIGINT) AS top_lang_docs
    FROM corpus CROSS JOIN by_lang
    """,
    doc="Dataset-card statistics in one pass: the headline numbers a "
    "corpus release documents (doc/source/lang counts, char and "
    "whitespace-token totals, short-doc count, dominant language) fused "
    "into a single scan + global aggregate, with the dominant-language "
    "argmax as a deterministic top-1 side aggregate. At 100 TB this is "
    "the only affordable shape for card generation: every metric shares "
    "the one scan, the global agg reduces map-side to a handful of "
    "counters per partition, and nothing wide ever shuffles.",
    tags=("pipeline", "stats"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.text import tokens_ws

    d = load_table(spark, "documents", sf_dir)
    base = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(tokens_ws("text")).alias("n_tok"),
    )
    corpus = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tok").cast("long").alias("total_ws_tokens"),
        F.count_if(F.col("n_chars") < 100).cast("long").alias("short_docs"),
    )
    by_lang = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.desc("c"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("c").alias("top_lang_docs"))
    )
    return corpus.crossJoin(by_lang)


@register(
    "pipeline_assign_ids",
    oracle="""
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (ORDER BY source ASC, doc_id ASC) - 1
                AS BIGINT) AS seq_id
    FROM documents
    """,
    doc="Stable dense id assignment (0..N-1 in (source, doc_id) order) "
    "via operators/ids.py::assign_sequential_ids — the two-pass "
    "zipWithIndex shape: distributed range-sort, per-partition counts, "
    "driver-side prefix-sum of ONE ROW PER PARTITION, then one JVM "
    "projection adding offset + in-partition ordinal. Identical output "
    "to the oracle's global row_number, which Spark would execute on a "
    "SINGLE task (the anti-pattern this operator exists to avoid); here "
    "every stage is parallel and the driver holds only the partition-size "
    "vector. The id-minting step every training-corpus build needs.",
    tags=("pipeline", "ids"),
)
def pipeline_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.ids import assign_sequential_ids

    d = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    return assign_sequential_ids(d, order_by=["source", "doc_id"])


@register(
    "pipeline_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  t -> length(t) > 0)) AS BIGINT) AS n_tok
      FROM documents
    ),
    pre AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_before
      FROM toks
    )
    SELECT doc_id, n_tok, tok_before,
           tok_before // 2048 AS pack_id,
           tok_before % 2048 AS pack_offset
    FROM pre
    """,
    doc="Training-sequence packing (contiguous-fill): documents are laid "
    "end-to-end in doc_id order into fixed 2048-token packs; each doc "
    "gets its pack id and intra-pack offset from the EXCLUSIVE token "
    "prefix sum (docs crossing a boundary split across packs, the "
    "streaming-packer semantics). The prefix sum is the scale problem: "
    "the oracle's global-ORDER-BY window runs on one task, while "
    "operators/ids.py::with_running_total computes the identical "
    "numbers with a distributed range-sort, per-partition sums, a "
    "driver-side prefix over one value per partition, and an Arrow "
    "cumsum pass — every stage parallel.",
    tags=("pipeline", "packing"),
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.ids import with_running_total
    from slr207_mapreduce_spark.operators.text import tokens_ws

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(tokens_ws("text")).cast("long").alias("n_tok")
    )
    pre = with_running_total(
        d, order_by=["doc_id"], value_col="n_tok", out_col="tok_before"
    )
    return pre.select(
        "doc_id",
        "n_tok",
        "tok_before",
        F.expr("tok_before div 2048").alias("pack_id"),  # integer div, no double round-trip
        (F.col("tok_before") % 2048).alias("pack_offset"),
    )
