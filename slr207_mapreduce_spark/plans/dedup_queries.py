"""Deduplication queries over the documents table (north-star family;
operators in slr207_mapreduce_spark/operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slr207_mapreduce_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_lsh_sql,
    minhash_signatures,
    doc_shingles,
    ngram_jaccard_pairs,
    ngram_jaccard_sql,
    simhash,
    simhash_band_pairs,
    simhash_sql,
)
from slr207_mapreduce_spark.plans.base import register
from slr207_mapreduce_spark.sources.tables import load_table


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content fingerprint; canonical row = "
    "min doc_id. Only (hash, id) shuffles — never the payload.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_id"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=ngram_jaccard_sql(threshold=0.5, shingle_n=3),
    doc="Exact 3-gram Jaccard near-dup pairs (threshold 0.5) with a "
    "SELF-SELECTING plan (r11 VERDICT item 5): a cheap shingle-df probe "
    "(max posting-list df vs corpus size) picks the plain inverted-index "
    "self-join on bounded-bucket corpora and AllPairs/PPJoin prefix "
    "filtering under boilerplate skew — bit-identical output either way "
    "(pinned in tests/test_llm_ops.py), so the oracle is unchanged; only "
    "WHERE the work lands changes. See "
    "operators/dedup.py:ngram_jaccard_pairs_auto.",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.dedup import ngram_jaccard_pairs_auto

    d = load_table(spark, "documents", sf_dir)
    return ngram_jaccard_pairs_auto(d, threshold=0.5, shingle_n=3)


from slr207_mapreduce_spark.functions.portable import portable_hash64_lane_sql
from slr207_mapreduce_spark.operators.dedup import shingle_tokens_cte_sql, shingles_sql

_MINHASH_SIG_SQL = f"""
    WITH __tk AS ({shingle_tokens_cte_sql()}),
    sh AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql('__t', 3)}) AS s
      FROM __tk
    )
    SELECT doc_id,
           {", ".join(f"MIN({portable_hash64_lane_sql('s', *divmod(s, 2))}) AS h{s}" for s in range(6))}
    FROM sh GROUP BY doc_id
    """


@register(
    "dedup_minhash_signatures",
    oracle=_MINHASH_SIG_SQL,
    doc="Per-doc 6-hash MinHash signature over 3-gram shingles (md5-portable "
    "hash family — bit-identical in the oracle).",
    tags=("dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    # distinct=False: min over the shingle multiset == min over the set,
    # so the dedup shuffle is skipped (result identical, oracle unchanged).
    # An Arrow MinHash kernel lost its A/B here and was deleted
    # (OPTIMIZATION_r16.md §1; recoverable from commit d623161).
    return minhash_signatures(doc_shingles(d, "doc_id", 3, distinct=False), num_hashes=6)


@register(
    "dedup_minhash_lsh",
    oracle=minhash_lsh_sql(num_hashes=6, band_size=2, shingle_n=3),
    doc="MinHash+LSH near-dup candidates: shingle→minhash→band→bucket-join, "
    "est_jaccard = agreeing-hash fraction. The 100 TB dedup path: candidate "
    "generation is an equi-join on (band, band_key), never all-pairs.",
    tags=("dedup", "minhash"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return minhash_lsh_candidates(d, num_hashes=6, band_size=2, shingle_n=3)


@register(
    "dedup_simhash",
    oracle=simhash_sql(bits=16),
    doc="16-bit SimHash per doc (bit-vote over md5-portable token hashes).",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return simhash(d, bits=16)


@register(
    "dedup_minhash_ml",
    oracle=None,  # MLlib's internal hash family isn't SQL-reproducible
    doc="MinHash near-dup candidates via MLlib MinHashLSH (HashingTF set "
    "vectors → approxSimilarityJoin) — the off-the-shelf library path next "
    "to the md5-portable implementation (dedup_minhash_lsh). Rows-only "
    "check here; tests/test_mllib_lsh.py validates candidate quality "
    "against the exact Jaccard operator.",
    tags=("dedup", "minhash", "mllib"),
)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.mllib_lsh import minhash_neardup_pairs_ml

    d = load_table(spark, "documents", sf_dir)
    return minhash_neardup_pairs_ml(d, jaccard_distance_threshold=0.6)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sigs AS ({simhash_sql(bits=16)})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
    doc="SimHash near-dup pairs at hamming distance ≤ 2 over the 16-bit "
    "signatures, generated by bit-sampling LSH (4 bands × 4 bits, equi-join "
    "on band value, exact-Hamming verify) — recall is provably complete for "
    "hamming ≤ 2 since ≤ 2 flipped bits leave ≥ 2 of 4 bands identical. The "
    "oracle states the all-pairs semantics; the Spark plan is the banded "
    "equi-join that scales (no broadcast-nested-loop).",
    tags=("dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return simhash_band_pairs(simhash(d, bits=16), max_hamming=2, bits=16, bands=4)


_SUBSTR_SPAN_W = 32


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH __tk AS ({shingle_tokens_cte_sql()}),
    sh AS (
      SELECT doc_id, unnest({shingles_sql('__t', _SUBSTR_SPAN_W)}) AS s
      FROM __tk
    )
    SELECT md5(s) AS span_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM sh
    GROUP BY md5(s)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc=f"Exact-substring span dedup: every {_SUBSTR_SPAN_W}-token window "
    "shared verbatim across documents, keyed by content hash — the "
    "fixed-window formulation of exact-substring training-data dedup "
    "(suffix-array ExactSubstr from the published dedup literature, "
    "re-expressed as a scan fan-out + hash groupBy so the shuffle carries "
    "(16-byte hash, doc_id) pairs, never text). Downstream policy cuts "
    "the span from all but first_doc. The reference lineage is O5 fan-out "
    "+ O8/O9 keyed reduce, same as wordcount with a 32-token 'word'.",
    tags=("dedup", "substring"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sh = doc_shingles(d, "doc_id", _SUBSTR_SPAN_W, distinct=False)
    return (
        sh.select("doc_id", F.md5("sh").alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "dedup_substring_span_positions",
    oracle=f"""
    WITH __tk AS ({shingle_tokens_cte_sql()}),
    sh AS (
      SELECT doc_id,
             unnest({shingles_sql('__t', _SUBSTR_SPAN_W)}) AS s,
             unnest(range(1, greatest(len(__t) - {_SUBSTR_SPAN_W - 1}, 0) + 1)) AS pos
      FROM __tk
    ),
    dup_spans AS (
      SELECT md5(s) AS span_hash, MIN(doc_id) AS first_doc
      FROM sh GROUP BY md5(s)
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT h.doc_id,
           CAST(h.pos AS BIGINT) AS token_pos,
           d.span_hash,
           h.doc_id = d.first_doc AS is_canonical
    FROM (SELECT doc_id, pos, md5(s) AS span_hash FROM sh) h
    JOIN dup_spans d USING (span_hash)
    """,
    doc=f"Positions of cross-document duplicated {_SUBSTR_SPAN_W}-token "
    "spans — the removal-side companion of dedup_substring_spans: each row "
    "locates one occurrence (1-based token offset) of a span shared by >=2 "
    "docs, flagged is_canonical when it sits in the span's keeper doc. A "
    "cut pass drops non-canonical occurrences. posexplode pairs each span "
    "with its offset in the same fan-out; the span table joins back "
    "hash-keyed, so the payload through both shuffles is (hash, id, pos).",
    tags=("dedup", "substring"),
)
def dedup_substring_span_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    d = parallelize_narrow_scan(
        load_table(spark, "documents", sf_dir), by="doc_id"
    )
    n = _SUBSTR_SPAN_W
    refs = ", ".join(f"t[i+{j}-1]" for j in range(n))
    shingle = (
        f"CASE WHEN size(t) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(t) - {n - 1}), i -> concat_ws(' ', {refs})) END"
    )
    occ = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .select("doc_id", F.posexplode(F.expr(shingle)).alias("p0", "sh"))
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("long").alias("token_pos"),
            F.md5("sh").alias("span_hash"),
        )
    )
    dup = (
        occ.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("nd") >= 2)
        .select("span_hash", "first_doc")
    )
    return occ.join(dup, "span_hash").select(
        "doc_id",
        "token_pos",
        "span_hash",
        (F.col("doc_id") == F.col("first_doc")).alias("is_canonical"),
    )


def _streaming_gate_oracle() -> str:
    """DuckDB SQL for dedup_streaming_gate_batch: the minhash_lsh_sql
    signature/band CTEs, with the candidate join restricted across the
    odd-id (stream) / even-id (corpus) split."""
    num_hashes, band_size, shingle_n = 6, 2, 3
    num_bands = num_hashes // band_size
    mins = ",\n             ".join(
        f"MIN({portable_hash64_lane_sql('s', *divmod(s, 2))}) AS h{s}"
        for s in range(num_hashes)
    )
    band_selects = []
    for b in range(num_bands):
        cols = [f"h{b * band_size + j}" for j in range(band_size)]
        concat = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({concat}) AS bkey FROM mh"
        )
    bands = "\n      UNION ALL ".join(band_selects)
    return f"""
    WITH __tk AS ({shingle_tokens_cte_sql()}),
    sh AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql('__t', shingle_n)}) AS s
      FROM __tk
    ),
    mh AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {bands}
    )
    SELECT DISTINCT st.doc_id AS doc_id, c.doc_id AS corpus_doc_id
    FROM bands st JOIN bands c
      ON st.band = c.band AND st.bkey = c.bkey
    WHERE st.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    """


@register(
    "dedup_streaming_gate_batch",
    oracle=_streaming_gate_oracle(),
    doc="Batch contract of the streaming ingestion near-dup gate "
    "(streaming/ops.py::streaming_neardup_candidates): odd-id documents "
    "play the arriving stream, even-id documents the accumulated corpus; "
    "a stream doc is flagged against every corpus doc sharing an LSH "
    "band bucket. The stream side computes MinHash signatures ROW-"
    "LOCALLY (array_min over transformed shingle arrays — a stateless "
    "projection with zero shuffle, legal in any streaming output mode), "
    "bit-identical to the batch explode+groupBy path (pinned in "
    "tests/test_streaming.py); the corpus band table broadcasts per "
    "micro-batch so arriving data never shuffles. Oracle: the same md5-"
    "lane signature + band-key join in SQL, restricted across the "
    "odd/even split.",
    tags=("dedup", "streaming", "lsh"),
)
def dedup_streaming_gate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.streaming.ops import streaming_neardup_candidates

    docs = load_table(spark, "documents", sf_dir)
    return streaming_neardup_candidates(
        docs.where("doc_id % 2 = 1"), docs.where("doc_id % 2 = 0")
    ).distinct()
