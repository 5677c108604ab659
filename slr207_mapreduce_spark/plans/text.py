"""Text-analysis queries over the documents table (``text_*``; operators in
slr207_mapreduce_spark/operators/text.py): language ID, quality scoring,
token counting, fingerprinting, tf/df term stats, corpus profiling,
sketches, BPE, normalization and LM scoring.

Per-document features are catalyst column expressions computed inside the
scan stage (no Python, no pre-shuffle), and corpus reports aggregate
partial→final over tiny key domains. Counting integers (token counts, char
counts) makes every SUM exact; ratio outputs are single IEEE divisions of
exact operands, and scores use log-free formulas reported as e9 fixed-point
integers — the SCALE.md exactness-under-parallelism invariant.

The count-min sketch is built with the portable md5 hash family, so the
counters, the estimates and the realized error are all checked against an
oracle that rebuilds the same sketch in SQL. The counters are plain SUMs,
so Spark's partial aggregation IS the sketch merge — the map-side combine
builds per-partition sketches and the reduce merges them, which is exactly
how the sketch deploys on a cluster.

BPE token sequences are encoded as 2-space-separated char strings, so
non-overlapping `replace(' x  y ', ' xy ')` IS the greedy merge —
identical semantics in Spark and DuckDB.
"""

from __future__ import annotations

import pandas as _pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from slr207_mapreduce_spark.functions.portable import (
    COUNTMIN_SEED0,
    countmin_hash_rows,
    countmin_hash_sql,
)
from slr207_mapreduce_spark.operators.dedup import (
    doc_shingles,
    shingle_tokens_cte_sql,
    shingles_sql,
)
from slr207_mapreduce_spark.operators.text import (
    BPE_ISH_REGEX,
    LANGS,
    lang_hit_count,
    lang_hit_count_sql,
    predicted_lang,
    predicted_lang_sql,
    rolling_fingerprint,
    rolling_fingerprint_sql,
    tokens_ws,
)
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           {", ".join(f"{lang_hit_count_sql('text', lg)} AS {lg}_hits" for lg in LANGS)},
           {predicted_lang_sql({lg: lang_hit_count_sql('text', lg) for lg in LANGS})} AS predicted_lang
    FROM documents
    """,
    doc="Stopword-hit language ID: per-language hit counts + deterministic "
    "argmax (ties → lexicographically smallest code). Pure column "
    "expressions — one scan, no shuffle.",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    hits = {lg: lang_hit_count("text", lg) for lg in LANGS}
    cols = [F.col("doc_id"), F.col("lang")]
    cols += [hits[lg].alias(f"{lg}_hits") for lg in LANGS]
    cols.append(predicted_lang(hits).alias("predicted_lang"))
    return d.select(*cols)


@register(
    "text_quality",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_tokens,
             length(regexp_replace(text, '[^!.,;:?]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
             len(list_filter(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0),
                 t -> list_contains(['the','and','of','to','in','a','is'], t))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars_actual AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS chars_per_token,
           CAST(n_punct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE) AS punct_ratio,
           CAST(n_digits AS DOUBLE) / CAST(n_chars_actual AS DOUBLE) AS digit_ratio,
           CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           CASE WHEN n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.01
                THEN 'good' WHEN n_tokens >= 10 THEN 'fair' ELSE 'poor' END AS quality_band
    FROM t
    """,
    doc="Heuristic quality scoring: length, punct/digit/stopword ratios and "
    "a banded verdict — the pre-training corpus filter shape.",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    stop = F.array(*[F.lit(w) for w in ("the", "and", "of", "to", "in", "a", "is")])
    t = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(tokens_ws("text")).cast("long").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^!.,;:?]", "")).cast("long").alias("n_punct"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("n_digits"),
        F.size(
            F.filter(tokens_ws("text"), lambda tok: F.array_contains(stop, tok))
        ).cast("long").alias("n_stop"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    stop_ratio = dbl("n_stop") / dbl("n_tokens")
    return t.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        (dbl("n_chars_actual") / dbl("n_tokens")).alias("chars_per_token"),
        (dbl("n_punct") / dbl("n_chars_actual")).alias("punct_ratio"),
        (dbl("n_digits") / dbl("n_chars_actual")).alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.when((F.col("n_tokens") >= 20) & (stop_ratio > 0.01), "good")
        .when(F.col("n_tokens") >= 10, "fair")
        .otherwise("poor")
        .alias("quality_band"),
    )


@register(
    "text_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_REGEX}')) AS BIGINT) AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="Token counting two ways: whitespace tokens and a BPE-ish "
    "pre-tokenizer regex (word pieces | numbers | single symbols) — the "
    "token-budget estimator for training-data pipelines.",
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.size(tokens_ws("text")).cast("long").alias("ws_tokens"),
        # F.lit pattern, not an F.expr SQL string: the SQL parser would eat
        # the backslash in \s and silently change the character class.
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_REGEX), 0))
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_bytes"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS content_md5,
           {rolling_fingerprint_sql('text')} AS rolling_hash
    FROM documents
    """,
    doc="Document fingerprinting: content md5 + order-sensitive polynomial "
    "rolling hash over tokens (acc = (acc*131 + h) mod 2^31-1) — the "
    "incremental-dedup key family.",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        rolling_fingerprint("text").alias("rolling_hash"),
    )


@register(
    "text_bigram_counts",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
      SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
             i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bigrams WHERE length(bigram) > 1
    GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC
    LIMIT 100
    """,
    doc="Top-100 word bigrams across the corpus — the reference's word "
    "count (O5-O12) generalized to n-grams; same explode→count→top-K "
    "plan, n-gram construction via a transform over the token array.",
    tags=("text", "ngram"),
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    bigram = (
        "CASE WHEN size(t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(t) - 1), i -> concat_ws(' ', t[i-1], t[i])) END"
    )
    return (
        d.select(F.split("text", " ").alias("t"))
        .select(F.explode(F.expr(bigram)).alias("bigram"))
        .where(F.length("bigram") > 1)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(100)
    )


@register(
    "text_term_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY doc_id, term)
    SELECT term,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           COUNT(*) AS df,
           CAST(MAX(tf) AS BIGINT) AS max_tf_in_doc
    FROM tf
    GROUP BY term
    """,
    doc="Corpus term statistics (tf / df / max-tf) — the integer core of "
    "tf-idf, kept log-free so the oracle matches exactly; the idf weighting "
    "itself is a trivial map over these outputs. Two aggregations, no join: "
    "tf rows are unique per (doc, term) by construction, so df is simply "
    "the per-term row count of the tf relation (the earlier distinct+join "
    "formulation paid two extra shuffles for nothing).",
    tags=("text",),
)
def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE spark.sql() text over the cached documents view (r15
    # build-latency pass, guide §1); same two-aggregation, no-join plan.
    from slr207_mapreduce_spark.sources.tables import table_view

    v = table_view(spark, "documents", sf_dir)
    return spark.sql(f"""
        WITH tf AS (
          SELECT doc_id, term, COUNT(1) AS tf
          FROM (SELECT doc_id, explode(split(text, ' ')) AS term FROM {v})
          WHERE length(term) > 0
          GROUP BY doc_id, term
        )
        SELECT term,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               COUNT(1) AS df,
               CAST(MAX(tf) AS BIGINT) AS max_tf_in_doc
        FROM tf GROUP BY term
    """)


_BM25_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
      FROM toks WHERE length(term) > 0 GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(18,1))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM toks WHERE term IN ('join', 'hash', 'scan') GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             ((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * (1.5 + 1.0))
               / (tf.tf + 1.5 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(SUM(CAST(floor(s * 1e9) AS BIGINT)) AS BIGINT) AS bm25_e9
    FROM scored
    GROUP BY doc_id
    """


@register(
    "text_bm25",
    oracle=_BM25_ORACLE,
    doc="BM25 relevance scoring (k1=1.5, b=0.75) for the query "
    "{join, hash, scan}: per-term tf saturation x length normalization "
    "(dl/avgdl, avgdl from an exact decimal sum) x idf. The idf uses the "
    "log-FREE monotone surrogate (N-df+0.5)/(df+0.5)+1 — the operand of "
    "BM25's ln — because ln() itself differs by 1 ulp between JVM and "
    "libm (measured: 40/500 operands), which would break bit-exactness; "
    "per-term ordering is identical. Scores are fixed-point e9 summed as "
    "integers, so the output is engine-exact. Shape: one tokenize+agg "
    "pass folds dl AND every query term's tf; a second global pass folds "
    "corpus stats AND per-term df into a 1-row broadcast — two corpus "
    "scans total, the floor without materializing the per-doc frame "
    "(was four: dl/tf/stats each re-tokenized).",
    tags=("text", "ranking"),
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.functions.portable import dec

    QUERY_TERMS = ("join", "hash", "scan")
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term")).where(
        F.length("term") > 0
    )
    # ONE tokenize + aggregate pass computes the doc length AND each query
    # term's tf (conditional counts). Every downstream consumer (corpus
    # stats, df, scoring) derives from this identical pre-shuffle subplan,
    # so the planner's ReuseExchange collapses them to a single corpus
    # scan — the naive dl/tf/stats branches each re-tokenized the corpus
    # (audited: 4 document scans, now 1).
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, F.lit(1)))
            .cast("double")
            .alias(f"tf_{t}")
            for t in QUERY_TERMS
        ],
    )
    # global pass (scan 2 of 2): corpus stats AND each term's document
    # frequency fold into one 1-row broadcastable summary
    summary = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(dec("dl", 18, 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{t}") > 0, F.lit(1)))
            .cast("double")
            .alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"), F.col(f"tf_{t}").alias("tf")
                    )
                    for t in QUERY_TERMS
                ]
            )
        ),
    ).where(F.col("tf") > 0)
    df_of_term = F.create_map(
        *[x for t in QUERY_TERMS for x in (F.lit(t), F.col(f"df_{t}"))]
    )[F.col("term")]
    k1, b = F.lit(1.5), F.lit(0.75)
    s = (
        ((F.col("n_docs") - df_of_term + 0.5) / (df_of_term + 0.5) + 1.0)
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.crossJoin(F.broadcast(summary))
        .select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(F.sum(F.floor(F.col("s") * 1e9).cast("long")).cast("long").alias("bm25_e9"))
    )


@register(
    "text_profile_by_source",
    oracle=r"""
    WITH feats AS (
      SELECT source, lang,
             len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_tokens,
             length(text) AS n_chars,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
      FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
           CAST(SUM(n_digits) AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE) AS digit_ratio,
           CAST(count(*) FILTER (WHERE n_tokens < 10) AS BIGINT) AS n_short,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM feats
    GROUP BY source, lang
    """,
    doc="Corpus triage profile per (source, lang): doc/token/char totals, "
    "short-doc counts, digit ratio — the text_quality feature set fused "
    "into one scan + one tiny-key aggregation. Integer sums are exact; "
    "ratios are one IEEE division each, so the report is bit-stable at "
    "any parallelism. The token-budget planning query for a 100 TB "
    "pre-training corpus.",
    tags=("text", "pipeline"),
)
def text_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    feats = d.select(
        "source",
        "lang",
        F.size(tokens_ws("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias("n_digits"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        feats.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_digits").alias("_digits"),
            F.count_if(F.col("n_tokens") < 10).alias("n_short"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "total_tokens",
            "total_chars",
            (dbl("total_tokens") / dbl("n_docs")).alias("avg_tokens"),
            (dbl("_digits") / dbl("total_chars")).alias("digit_ratio"),
            "n_short",
            "min_tokens",
            "max_tokens",
        )
    )


@register(
    "text_bpe_pair_counts",
    oracle=r"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS w
      FROM documents
    ),
    freqs AS (
      SELECT w, COUNT(*) AS f FROM words WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)), i -> w[i] || w[i+1])) AS pair, f
      FROM freqs
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
    doc="BPE tokenizer training, merge step 1: adjacent-character pair "
    "counts weighted by word frequency — argmax(pair) is the first BPE "
    "merge. EXACTLY the reference's word count (O5 tokenize -> O9 count, "
    "WorkerSender.java:216 / ListenerReducer.java:123-139) composed with "
    "a second explode+reduce over the DISTINCT-word table: the heavy "
    "corpus pass collapses to unique words first (Zipf: ~sqrt-ish "
    "compression), so the per-character explosion runs on the vocabulary, "
    "not the corpus — at 100 TB that ordering is the difference between "
    "exploding 1e12 tokens and 1e7 vocabulary entries. Top-20 via "
    "TakeOrderedAndProject with the O11 ordering discipline.",
    tags=("text", "pipeline"),
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    words = d.select(F.explode(tokens_ws("text")).alias("w")).where(F.length("w") >= 2)
    freqs = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    # substr with a COLUMN start index needs the expr form (F.substring
    # only accepts int positions).
    pairs = freqs.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> concat(substr(w, i, 1), substr(w, i + 1, 1)))")
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


@register(
    "text_inverted_index",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS term
      FROM documents WHERE doc_id < 120
    ),
    postings AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY term, doc_id
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS posting_list,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM postings
    GROUP BY term
    HAVING COUNT(*) >= 3
    """,
    doc="Inverted index build: (term, doc, tf) postings from one "
    "explode+count (the reference's word count keyed by (term, doc) — "
    "O5+O9), then per-term document-frequency and a SORTED posting list "
    "(serialized; sort makes the aggregation order-independent). The "
    "foundation of text retrieval; at 100 TB the posting lists are "
    "written bucketed by term so lookups partition-prune. df >= 3 keeps "
    "the checked output compact.",
    tags=("text",),
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 120)
    toks = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    postings = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        postings.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "posting_list"
            ),
            F.sum("tf").alias("total_tf"),
        )
        .where(F.col("df") >= 3)
    )


@register(
    "text_doc_similarity_sparse",
    # Pairwise doc similarity THROUGH the inverted index: docs meet only on
    # shared terms, so the join is Σ_term df(term)^2 pairs, never N^2.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS term
      FROM documents WHERE doc_id < 120
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot_tf,
           CAST(COUNT(*) AS BIGINT) AS shared_terms
    FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    ORDER BY dot_tf DESC, doc_a ASC, doc_b ASC
    LIMIT 25
    """,
    doc="Sparse document similarity via the inverted index: tf vectors "
    "meet through a self-join ON TERM (the classic MapReduce pairwise-"
    "similarity construction — cost Σ df² over terms, never N² over "
    "docs), integer tf dot products (exact, map-side combinable), top-25 "
    "pairs. The lexical counterpart of the dense-embedding ANN family; "
    "at 100 TB the high-df stopword terms dominate Σ df² and get pruned "
    "first (df-cap), exactly like dropping degenerate LSH buckets.",
    tags=("text", "similarity"),
)
def text_doc_similarity_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).where(F.col("doc_id") < 120)
    toks = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    a = tf.select(
        F.col("doc_id").alias("doc_a"), F.col("term"), F.col("tf").alias("tf_a")
    )
    b = tf.select(
        F.col("doc_id").alias("doc_b"),
        F.col("term").alias("term_b"),
        F.col("tf").alias("tf_b"),
    )
    return (
        a.join(b, (F.col("term") == F.col("term_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot_tf"),
            F.count(F.lit(1)).alias("shared_terms"),
        )
        .orderBy(F.desc("dot_tf"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(25)
    )


@register(
    "text_keyword_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                        t -> length(t) > 0)) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * CAST(FLOOR(1000000000.0 * n.n_docs / df.df) AS BIGINT)
               AS score_e9,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * CAST(FLOOR(1000000000.0 * n.n_docs / df.df) AS BIGINT) DESC,
                                         tf.term ASC) AS rank
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score_e9, CAST(rank AS BIGINT) AS rank
    FROM scored WHERE rank <= 3
    """,
    doc="Keyword extraction: top-3 terms per document by tf-idf with a "
    "log-free fixed-point idf surrogate floor(1e9*N/df) — monotone in "
    "true idf, integer-exact across engines (same stance as text_bm25). "
    "Plan: tf agg -> df agg on the tf relation (no second corpus scan) "
    "-> idf map joined back on term -> per-doc top-3 window. The df "
    "side is tiny after aggregation and broadcasts; the only big "
    "shuffles are the two aggs. This is the per-doc keyword/tag stage "
    "of a corpus indexing pipeline.",
    tags=("text", "tfidf"),
)
def text_keyword_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(tokens_ws("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    idf = df.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.floor(F.lit(1000000000.0) * F.col("n_docs") / F.col("df"))
        .cast("long")
        .alias("idf_e9"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.col("idf_e9")).alias("score_e9"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_e9"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "score_e9", "rank")
    )


@register(
    "text_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         t -> length(t) > 0) AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM toks, UNNEST(range(1, len(ws))) AS t(i)
    ),
    pair_c AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_pair
      FROM bigrams GROUP BY w1, w2
    ),
    uni_c AS (
      SELECT w1, CAST(SUM(c_pair) AS BIGINT) AS c_w1 FROM pair_c GROUP BY w1
    )
    SELECT p.w1, p.w2, p.c_pair, u.c_w1,
           CAST(FLOOR(1000000000.0 * p.c_pair / u.c_w1) AS BIGINT) AS prob_e9
    FROM pair_c p JOIN uni_c u USING (w1)
    ORDER BY p.c_pair DESC, p.w1 ASC, p.w2 ASC
    LIMIT 50
    """,
    doc="Count-based bigram language model estimation: in-document "
    "adjacent-token pairs (never across doc boundaries), conditional "
    "probability P(w2|w1) = c(w1,w2)/c(w1) in 1e9 fixed point — the "
    "n-gram statistics stage of LM data work (KenLM-style counting). "
    "The unigram denominators come from re-aggregating the pair counts "
    "(no second corpus pass), and at corpus scale both aggs partial-"
    "combine map-side; top-50 is TakeOrderedAndProject. Same zip-"
    "the-array-with-its-tail formulation both engines.",
    tags=("text", "ngram"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    ws = tokens_ws("text")
    pairs = d.select(
        F.explode(
            F.zip_with(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair_c = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c_pair")
    )
    uni_c = pair_c.groupBy("w1").agg(F.sum("c_pair").cast("long").alias("c_w1"))
    return (
        pair_c.join(uni_c, "w1")
        .select(
            "w1",
            "w2",
            "c_pair",
            "c_w1",
            F.floor(F.lit(1000000000.0) * F.col("c_pair") / F.col("c_w1"))
            .cast("long")
            .alias("prob_e9"),
        )
        .orderBy(F.desc("c_pair"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# Trigram novelty
# --------------------------------------------------------------------------


@register(
    "text_trigram_novelty",
    oracle=f"""
    WITH __tk AS ({shingle_tokens_cte_sql()}),
    sh AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql('__t', 3)}) AS s
      FROM __tk
    ),
    df AS (SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s)
    SELECT sh.doc_id,
           COUNT(*) AS n_trigrams,
           CAST(COALESCE(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_novel,
           CAST((1000000000 * COALESCE(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END), 0))
                // COUNT(*) AS BIGINT) AS novelty_e9
    FROM sh JOIN df ON df.s = sh.s
    GROUP BY sh.doc_id
    """,
    doc="Per-doc novelty: the fraction of a doc's distinct trigrams that "
    "appear in NO other document, in e9 fixed point. The inverse of the "
    "decontamination overlap check — high-novelty docs carry content the "
    "rest of the corpus lacks (mixture-curation signal). Plan: one "
    "(doc, shingle) table feeds both the document-frequency aggregate and "
    "the per-doc re-join — term-keyed shuffles only, Σ df work, never N².",
    tags=("text", "novelty", "quality"),
)
def text_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sh = doc_shingles(d, n=3, distinct=True)
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    novel = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
    return (
        sh.join(df_counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.coalesce(novel, F.lit(0)).alias("n_novel"),
            F.expr(
                "(1000000000L * COALESCE(SUM(CASE WHEN n_docs = 1 THEN 1 ELSE 0 END), 0))"
                " DIV COUNT(1)"
            ).alias("novelty_e9"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge application
# --------------------------------------------------------------------------

# Fixed, ordered merge table (the apply-side contract: merges learned by a
# prior training run are applied greedily left-to-right, in rank order).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("t", "a"),
    ("a", "l"),
    ("s", "c"),
)


def _merged_expr_spark(tok: str) -> str:
    """Spark SQL: word -> ' c  h  a  r ' 2-space-separated char string,
    then the ordered merges as non-overlapping replaces."""
    s = f"concat(' ', rtrim(regexp_replace({tok}, '(.)', '$1  ')), ' ')"
    for x, y in BPE_MERGES:
        s = f"replace({s}, ' {x}  {y} ', ' {x}{y} ')"
    return s


def _merged_expr_duck(tok: str) -> str:
    s = f"concat(' ', rtrim(regexp_replace({tok}, '(.)', '\\1  ', 'g')), ' ')"
    for x, y in BPE_MERGES:
        s = f"replace({s}, ' {x}  {y} ', ' {x}{y} ')"
    return s


_TRAIN_ROUNDS = 5


def _bpe_train_oracle(rounds: int = _TRAIN_ROUNDS) -> str:
    """Unrolled DuckDB oracle for the iterative BPE trainer: each round is
    a CTE trio (adjacent-pair counts over the current segmentation → argmax
    best pair → merged segmentation), chained ``rounds`` times — the same
    unrolled-iteration oracle technique as graph_pagerank."""
    ctes = [
        # distinct-word table with frequencies, char-split segmentation
        """w AS (
      SELECT tok AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE length(tok) > 0 GROUP BY tok
    )""",
        """seg0 AS (
      SELECT word, freq,
             concat(' ', rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')), ' ')
               AS enc
      FROM w
    )""",
    ]
    for r in range(rounds):
        ctes.append(
            f"""u{r} AS (
      SELECT freq, string_split(trim(enc), '  ') AS u FROM seg{r}
    )"""
        )
        ctes.append(
            f"""pc{r} AS (
      SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq,
               unnest(list_transform(range(1, greatest(len(u), 1)),
                                     i -> {{'l': u[i], 'r': u[i + 1]}})) AS p
        FROM u{r}
      ) GROUP BY p.l, p.r
    )"""
        )
        ctes.append(
            f"""best{r} AS (
      SELECT l, r, cnt FROM pc{r} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
    )"""
        )
        ctes.append(
            f"""seg{r + 1} AS (
      SELECT word, freq,
             replace(enc,
                     ' ' || (SELECT l FROM best{r}) || '  ' ||
                       (SELECT r FROM best{r}) || ' ',
                     ' ' || (SELECT l FROM best{r}) ||
                       (SELECT r FROM best{r}) || ' ') AS enc
      FROM seg{r}
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, l AS merge_left, r AS merge_right,"
        f" cnt AS pair_count FROM best{r}"
        for r in range(rounds)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + union


@register(
    "text_bpe_train_merges",
    oracle=_bpe_train_oracle(),
    doc="BPE tokenizer TRAINING: 5 merge rounds over the frequency-weighted "
    "distinct-word table. Each round counts adjacent unit pairs of the "
    "current segmentation (one groupBy over the Zipf-compressed "
    "vocabulary, NOT the token stream), picks the argmax pair with a "
    "deterministic (count desc, pair asc) tie-break — a 1-row collect, the "
    "only driver traffic per round — and applies the merge as the "
    "non-overlapping-replace string algebra of text_bpe_apply. The oracle "
    "unrolls all 5 rounds as CTE trios (the graph_pagerank technique), so "
    "the data-dependent iteration is still hash-checked end to end.",
    tags=("text", "bpe", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    w = (
        d.selectExpr("explode(split(text, ' ')) AS word")
        .where("length(word) > 0")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seg = w.selectExpr(
        "word",
        "freq",
        "concat(' ', rtrim(regexp_replace(word, '(.)', '$1  ')), ' ') AS enc",
    )
    # index list via filter (never `sequence(1, size-1)`: Spark's sequence
    # runs DESCENDING when start > stop, fabricating a [1,0] pair for
    # single-unit words — same hazard class as shingles())
    pair_expr = (
        "transform(filter(sequence(1, size(u)), i -> i < size(u)), "
        "i -> struct(element_at(u, i) AS l, element_at(u, i + 1) AS r))"
    )
    merges = []
    for r in range(_TRAIN_ROUNDS):
        pc = (
            seg.selectExpr("freq", "split(trim(enc), '  ') AS u")
            .selectExpr("freq", f"explode({pair_expr}) AS p")
            .selectExpr("freq", "p.l AS l", "p.r AS r")
            .groupBy("l", "r")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        best = pc.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).first()
        if best is None:  # vocabulary fully merged before the round budget
            break
        merges.append((r + 1, best["l"], best["r"], best["cnt"]))
        pat, rep = f" {best['l']}  {best['r']} ", f" {best['l']}{best['r']} "
        seg = seg.selectExpr(
            "word",
            "freq",
            # literals are sanitized by construction (units are substrings
            # of corpus words, split on whitespace — no quotes to escape)
            f"replace(enc, '{pat}', '{rep}') AS enc",
        )
    return spark.createDataFrame(
        merges, "merge_rank int, merge_left string, merge_right string, pair_count bigint"
    )


@register(
    "text_bpe_apply",
    oracle=f"""
    SELECT doc_id,
           len(words) AS n_words,
           COALESCE(CAST(list_sum(list_transform(words, t -> length(t))) AS BIGINT), 0)
             AS n_char_units,
           COALESCE(CAST(list_sum(list_transform(words,
             t -> len(string_split(trim({_merged_expr_duck('t')}), '  '))))
             AS BIGINT), 0) AS n_bpe_units
    FROM (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> length(t) > 0) AS words
      FROM documents
    )
    """,
    doc="BPE tokenizer APPLICATION: a fixed ordered merge list applied "
    "greedily left-to-right to every word, counting subword units before "
    "(chars) and after. Token sequences are encoded as 2-space-separated "
    "strings so plain non-overlapping replace(' x  y ', ' xy ') IS the "
    "greedy merge (each match donates one boundary space to its neighbor) "
    "— string algebra with identical semantics in both engines, no UDF. "
    "Complements text_bpe_pair_counts (the training side). Zero shuffles: "
    "a pure scan-stage projection.",
    tags=("text", "bpe", "tokenize"),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    # The merge cascade is CPU-bound per ROW (a replace() chain over every
    # word), so a small corpus arriving as 1-2 splits would run it 1-2
    # wide; the rebalance is a no-op whenever the scan is already wide.
    d = parallelize_narrow_scan(load_table(spark, "documents", sf_dir))
    return d.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> length(t) > 0)").alias("words"),
    ).select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(words, 0L, (acc, t) -> acc + length(t))"
        ).alias("n_char_units"),
        F.expr(
            "aggregate(words, 0L, (acc, t) -> acc + "
            f"size(split(trim({_merged_expr_spark('t')}), '  ')))"
        ).alias("n_bpe_units"),
    )


# --- Unicode NFC normalization -------------------------------------------

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


# Count-min geometry: depth 3 x width 1024 (seeds 100..102 of the portable
# md5 family). At sf0.1 (~6e5 token occurrences) the expected per-row
# overcount is N/w ~ 600 — small against the top-20 heavy hitters, large
# enough that the report's realized-error column is a real measurement.
_CM_DEPTH = 3
_CM_WIDTH = 1024
_CM_SEED0 = COUNTMIN_SEED0
_CM_TOPK = 20


def _cm_oracle() -> str:
    probe = countmin_hash_sql("t.term", "h.i", _CM_WIDTH, _CM_SEED0)
    build = countmin_hash_sql("term", "h.i", _CM_WIDTH, _CM_SEED0)
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    counts AS (
      SELECT term, COUNT(*) AS cnt FROM toks WHERE length(term) > 0 GROUP BY term
    ),
    cm AS (
      SELECT h.i AS h, {build} AS b, SUM(cnt) AS c
      FROM counts, (SELECT UNNEST(range({_CM_DEPTH})) AS i) h
      GROUP BY 1, 2
    ),
    top AS (
      SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT {_CM_TOPK}
    )
    SELECT t.term,
           CAST(t.cnt AS BIGINT) AS exact_tf,
           CAST(MIN(c.c) AS BIGINT) AS est_tf,
           CAST(MIN(c.c) - t.cnt AS BIGINT) AS overcount
    FROM top t, (SELECT UNNEST(range({_CM_DEPTH})) AS i) h, cm c
    WHERE c.h = h.i AND c.b = {probe}
    GROUP BY t.term, t.cnt
    """


@register(
    "text_countmin_heavy_hitters",
    oracle=_cm_oracle(),
    doc="Count-min sketch heavy hitters: per-term exact counts feed a "
    f"depth-{_CM_DEPTH} x width-{_CM_WIDTH} counter array keyed by the "
    "portable md5 hash family (adding exact per-term counts into buckets "
    "is identical to streaming per-occurrence updates — the counters are "
    "additive), then the top-20 exact terms are probed back through the "
    "sketch: est = min over rows of the bucket sum. The counters are "
    "plain SUMs, so partial aggregation IS the distributed sketch merge "
    "and the whole structure is mergeable across partitions, days, or "
    "corpora. est >= exact always (CM never undercounts); the overcount "
    "column is the realized error, which the oracle — rebuilding the "
    "identical sketch in SQL — checks exactly, the same "
    "exact-report-over-approximate-inputs trick as estimator_error_report.",
    tags=("text", "sketch"),
)
def text_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hash_rows = countmin_hash_rows(
        F.col("term"), depth=_CM_DEPTH, width=_CM_WIDTH, seed0=_CM_SEED0
    )
    cm = (
        counts.select(F.explode(hash_rows).alias("hb"), "cnt")
        .groupBy(F.col("hb.h").alias("h"), F.col("hb.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(_CM_TOPK)
    probed = top.select("term", "cnt", F.explode(hash_rows).alias("hb")).join(
        F.broadcast(cm),
        (F.col("hb.h") == F.col("h")) & (F.col("hb.b") == F.col("b")),
    )
    return probed.groupBy("term", "cnt").agg(F.min("c").alias("est")).select(
        "term",
        F.col("cnt").cast("long").alias("exact_tf"),
        F.col("est").cast("long").alias("est_tf"),
        (F.col("est") - F.col("cnt")).cast("long").alias("overcount"),
    )


_PHRASE = ("part", "filter", "scan")


@register(
    "text_phrase_search",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
    toks AS (
      SELECT doc_id, CAST(tp.p AS BIGINT) AS pos,
             parts[CAST(tp.p AS BIGINT) + 1] AS term
      FROM d, LATERAL (SELECT UNNEST(range(len(parts))) AS p) tp
    )
    SELECT a.doc_id,
           COUNT(*) AS n_matches,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM toks a
    JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
               AND b.term = '{_PHRASE[1]}'
    JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
               AND c.term = '{_PHRASE[2]}'
    WHERE a.term = '{_PHRASE[0]}'
    GROUP BY a.doc_id
    """,
    doc="Exact phrase search through a POSITIONAL inverted index — the "
    "search-engine op the text family lacked: posting lists (term, doc, "
    f"position) are filtered to the phrase terms {' '.join(_PHRASE)!r} "
    "BEFORE any join (predicate pushdown to the scan), then adjacency "
    "is an equi-join on (doc_id, pos+offset) — so only the three terms' "
    "posting lists ever shuffle, never the corpus, and a selective "
    "phrase touches a vanishing fraction of a 100 TB index. Emits "
    "per-doc match count and first occurrence. The oracle rebuilds the "
    "positional postings in SQL (lateral range over the split array — "
    "1-based list indexing) and replays the same adjacency joins.",
    tags=("text", "search"),
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    a = toks.where(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("pos").cast("long").alias("p0")
    )
    b = toks.where(F.col("term") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").cast("long").alias("p1")
    )
    c = toks.where(F.col("term") == _PHRASE[2]).select(
        F.col("doc_id").alias("doc_c"), F.col("pos").cast("long").alias("p2")
    )
    return (
        a.join(b, (F.col("doc_b") == F.col("doc_id")) & (F.col("p1") == F.col("p0") + 1))
        .join(c, (F.col("doc_c") == F.col("doc_id")) & (F.col("p2") == F.col("p0") + 2))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("p0").alias("first_pos"),
        )
    )


# --------------------------------------------------------------------------
# Corpus-bigram LM document scoring
# --------------------------------------------------------------------------


@register(
    "text_lm_score",
    oracle="""
    WITH tk AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                                     (t, i) -> {'pos': i, 'tok': t})) AS u
        FROM documents
      )
    ),
    bg AS (
      SELECT doc_id, tok AS w1,
             LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tk
    ),
    doc_bigrams AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM doc_bigrams GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY w1),
    scored AS (
      SELECT d.doc_id,
             (1000000000 * c2.n2) // c1.n1 AS p_e9
      FROM doc_bigrams d
      JOIN c2 ON c2.w1 = d.w1 AND c2.w2 = d.w2
      JOIN c1 ON c1.w1 = d.w1
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p_e9) AS BIGINT) // COUNT(*) AS lm_score_e9
    FROM scored GROUP BY doc_id
    """,
    doc="Corpus-bigram LM quality score (CCNet-shape gate): each doc's mean "
    "conditional bigram probability P(w2|w1) under the corpus LM, in e9 "
    "fixed-point — floor((1e9*c(w1,w2)) DIV c(w1,*)) per bigram, integer "
    "mean per doc. No float, no log: bit-identical across engines and at "
    "any parallelism. Plan: one doc-keyed window builds bigrams once; "
    "counts re-aggregate from the bigram table (c1 derives from c2 — no "
    "second corpus pass); scoring joins are term-keyed.",
    tags=("text", "lm", "quality"),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    # Tokenization (posexplode of up-to-100k-token docs) is scan-stage
    # work; hash-partitioning by doc_id first makes it full-width AND the
    # bigram window reuses the exchange (no second shuffle on doc_id).
    docs = parallelize_narrow_scan(
        load_table(spark, "documents", sf_dir), by="doc_id"
    )
    tk = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tk.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .select("doc_id", F.expr("(1000000000L * n2) DIV n1").alias("p_e9"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("SUM(p_e9) DIV COUNT(1)").alias("lm_score_e9"),
    )

