"""Reference-parity queries (``wordcount_*``): the reference's own word-count
pipeline run over the `documents` table (its text corpus generalized), with
the exact §1.3 semantics. This is the flagship — it exercises every
reference operator O1-O13 (scan → tokenize/flatMap → filter → shuffle →
hash-agg → sort → limit → sink) in one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slr207_mapreduce_spark.parity.wordcount import word_count, word_count_topk
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


# The same tokenizer / keep-filter, rendered for DuckDB (RE2). Doubled
# single-quote escapes the apostrophe inside the SQL literal; \n and \t are
# real characters in the regex class, passed via escape sequences RE2 accepts.
_SQL_TOKENS = r"""
    SELECT unnest(regexp_split_to_array(text, '[!.:;_,''@?()/° \n\t]+')) AS word
    FROM documents
"""
# encode() non-empty ⟺ lowered token contains a char in [`-z]
_SQL_KEEP = r"regexp_matches(lower(word), '[`-z]')"


@register(
    "wordcount_topk",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    kept AS (SELECT word FROM toks WHERE {_SQL_KEEP})
    SELECT word, count(*) AS cnt
    FROM kept
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT 20
    """,
    doc="Reference O1-O13: word count, global top-20 by (cnt DESC, word ASC). "
    "Semantics per WorkerSender.java:216,221,129-148; ValueThenKeyComparator.java:7-14; "
    "K=20 per WorkerSender.java:26.",
    tags=("parity",),
)
def q_wordcount_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE spark.sql() text over the cached documents view (table_view):
    # the chained-DataFrame form paid ~0.18 s of eager per-op analysis at
    # sf0.1 (r15 build-latency pass, guide §1) — same tokenizer regex,
    # keep-filter, aggregation and top-K as parity/wordcount.py
    # (word_count_topk remains the library surface), identical plan.
    from slr207_mapreduce_spark.parity.wordcount import TOKEN_DELIMITERS
    from slr207_mapreduce_spark.sources.tables import table_view

    v = table_view(spark, "documents", sf_dir)
    delims = (
        TOKEN_DELIMITERS.replace("\\", "\\\\")
        .replace("'", "\\'")
        .replace("\n", "\\n")
        .replace("\t", "\\t")
    )
    return spark.sql(f"""
        SELECT word, COUNT(1) AS cnt
        FROM (SELECT explode(split(text, '{delims}')) AS word FROM {v})
        WHERE lower(word) RLIKE '[`-z]'
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT 20
    """)


@register(
    "wordcount_full",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    kept AS (SELECT word FROM toks WHERE {_SQL_KEEP})
    SELECT word, count(*) AS cnt FROM kept GROUP BY word
    """,
    doc="Reference O5-O9 without the top-K: the full (word, cnt) aggregate — "
    "order-insensitive compare exercises the shuffle+hash-agg path alone.",
    tags=("parity",),
)
def q_wordcount_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return word_count(docs.select(F.col("text").alias("value")))


@register(
    "wordcount_top7",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    kept AS (SELECT word FROM toks WHERE {_SQL_KEEP})
    SELECT word, count(*) AS cnt FROM kept GROUP BY word
    ORDER BY cnt DESC, word ASC LIMIT 7
    """,
    doc="K=7 — the sequential oracle's print count (WordCounter.java:54).",
    tags=("parity",),
)
def q_wordcount_top7(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return word_count_topk(docs.select(F.col("text").alias("value")), k=7)


@register(
    "wordcount_top50",
    oracle=f"""
    WITH toks AS ({_SQL_TOKENS}),
    kept AS (SELECT word FROM toks WHERE {_SQL_KEEP})
    SELECT word, count(*) AS cnt FROM kept GROUP BY word
    ORDER BY cnt DESC, word ASC LIMIT 50
    """,
    doc="K=50 — the dead client-side global merge's intended print count "
    "(SimpleClient.java:46,358-365).",
    tags=("parity",),
)
def q_wordcount_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return word_count_topk(docs.select(F.col("text").alias("value")), k=50)


# WordCounter.java's divergent tokenizer (SURVEY.md §1.3(2)): single-char
# delimiter class (delimiter runs produce counted empty tokens), no encode
# filter, Java String.split trailing-empty semantics.
_SEQ_CLS = "[!.:;_,''@?()/ ]"


@register(
    "wordcount_sequential_oracle",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(
        CASE WHEN NOT regexp_matches(text, '{_SEQ_CLS}') THEN [text]
             WHEN regexp_replace(text, '{_SEQ_CLS}+$', '') = '' THEN []
             ELSE string_split_regex(regexp_replace(text, '{_SEQ_CLS}+$', ''), '{_SEQ_CLS}')
        END) AS word
      FROM documents
    )
    SELECT word, count(*) AS cnt FROM toks GROUP BY word
    """,
    doc="The reference's sequential-oracle tokenizer (WordCounter.java:28, "
    "34-41): single-char split — no '+', so delimiter runs yield counted "
    "empty tokens; no encode-drop filter; Java split drops trailing "
    "empties (Spark needs explicit limit=0; the SQL strips the trailing "
    "delimiter run, which is equivalent). Documents the two-tokenizer "
    "divergence the reference itself ships with (SURVEY.md §1.3(2)).",
    tags=("parity",),
)
def q_wordcount_sequential_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.parity.wordcount import word_count_sequential_oracle

    docs = load_table(spark, "documents", sf_dir)
    return word_count_sequential_oracle(docs.select(F.col("text").alias("value")))

