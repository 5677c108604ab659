"""Deduplication queries (``dedup_*``, ``semdedup_*``; operators in
slr207_mapreduce_spark/operators/dedup.py and operators/graph.py): exact
fingerprints, MinHash-LSH, n-gram and substring spans, content-defined
chunking, duplicate clusters and semantic dedup.

Cluster queries run connected components over the candidate pairs
(checkpointed min-label propagation, O(diameter) rounds); the oracle
reproduces the transitive closure with a DuckDB recursive CTE — an
iterative Spark algorithm that is still exactly checkable.

Content-defined chunking places a boundary after every token whose hash
≡ 0 (mod 8): boundaries depend only on LOCAL content, so insertions shift
chunk frames without re-aligning the whole document (the fixed-window
weakness of dedup_substring_spans).

SemDeDup compares embeddings only WITHIN a k-means cell, trading recall
across cell boundaries for bounded per-cell work; semdedup_recall_report
measures that trade against the exact global cosine pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import portable_hash64_lane_sql, portable_hash64_sql
from slr207_mapreduce_spark.operators.dedup import (
    cdc_chunk_table,
    doc_shingles,
    minhash_lsh_candidates,
    minhash_lsh_sql,
    minhash_signatures,
    ngram_jaccard_pairs,
    ngram_jaccard_sql,
    shingle_tokens_cte_sql,
    shingles_sql,
    simhash,
    simhash_band_pairs,
    simhash_sql,
)
from slr207_mapreduce_spark.operators.graph import connected_components
from slr207_mapreduce_spark.operators.similarity import cosine_neardup_pairs, cosine_neardup_sql
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


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({minhash_lsh_sql(6, 2, 3)})
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
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
    doc="Duplicate clusters: connected components (iterative min-label "
    "propagation, O(diameter) joins, lineage checkpointed per round) over "
    "the MinHash-LSH candidate pairs — near-dup PAIRS become duplicate "
    "GROUPS only after transitive closure. Oracle: recursive-CTE closure.",
    tags=("dedup", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(d, num_hashes=6, band_size=2, shingle_n=3)
    return connected_components(pairs, src="doc_a", dst="doc_b")


@register(
    "dedup_cluster_keep_canonical",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({minhash_lsh_sql(6, 2, 3)})
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, reach.r
      FROM reach JOIN edges e ON e.src = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id ASC) = 1)
             AS is_canonical
    FROM labeled
    """,
    doc="The near-dedup KEEP decision: LSH pairs -> connected components "
    "-> every document labeled with its duplicate cluster (singletons = "
    "their own id via a left join) -> ONE canonical survivor per cluster "
    "by the keep-longest heuristic (n_chars desc, doc_id asc tie-break) "
    "via max_by. Downstream corpora filter on is_canonical. This closes "
    "the dedup lifecycle: candidate PAIRS (dedup_minhash_lsh) -> GROUPS "
    "(dedup_clusters) -> per-doc retention verdict. The canonical choice "
    "is a broadcast-joinable (cluster_id, keeper) map — cluster count "
    "<< doc count at any scale.",
    tags=("dedup", "graph"),
)
def dedup_cluster_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_candidates(d, num_hashes=6, band_size=2, shingle_n=3)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    labeled = (
        d.select("doc_id", "n_chars")
        .join(comp, comp.node == F.col("doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "n_chars",
        )
    )
    keeper = labeled.groupBy("cluster_id").agg(
        F.max_by("doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))).alias(
            "keep_doc"
        )
    )
    return labeled.join(F.broadcast(keeper), "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("keep_doc")).alias("is_canonical"),
    )


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
    e = load_table(spark, "embeddings", sf_dir)
    pairs = cosine_neardup_pairs(e, threshold=0.2, bits=8)
    return connected_components(pairs, src="id_a", dst="id_b")


# --------------------------------------------------------------------------
# Content-defined chunking dedup
# --------------------------------------------------------------------------

_CDC_SEED = 77  # hash-family seed for the boundary test
_CDC_MOD = 8  # boundary after tokens whose hash % 8 == 0 -> ~8-token chunks


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok
      FROM (
        SELECT doc_id,
               unnest(list_transform(string_split(text, ' '),
                                     (t, i) -> {{'pos': i, 'tok': t}})) AS u
        FROM documents
      )
    ),
    flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN ({portable_hash64_sql('tok', _CDC_SEED)}) % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS bflag
      FROM tk
    ),
    framed AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(bflag) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM framed GROUP BY doc_id, chunk_id
    )
    SELECT chunk_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(*) > 1
    """,
    doc="Content-defined chunking (Rabin/LBFS-style storage dedup): chunk "
    "boundaries fall after tokens whose portable hash % 8 == 0 — local "
    "content decides the frame, so an insertion shifts boundaries instead "
    "of re-aligning every downstream window (the fixed-window weakness of "
    "dedup_substring_spans). Emits chunk hashes duplicated across the "
    "corpus with occurrence/doc counts. Plan: doc-keyed window for the "
    "boundary prefix-sum, then chunk assembly and a hash-keyed count — "
    "only (hash, count) rows cross the final shuffle.",
    tags=("dedup", "cdc", "chunking"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    chunks = cdc_chunk_table(docs, seed=_CDC_SEED, mod=_CDC_MOD)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") > 1)
    )


# --------------------------------------------------------------------------
# MinHash estimator error (LSH candidates × exact Jaccard)
# --------------------------------------------------------------------------


@register(
    "dedup_minhash_estimator_error",
    oracle=f"""
    WITH cand AS ({minhash_lsh_sql(num_hashes=6, band_size=2, shingle_n=3)}),
    exact AS ({ngram_jaccard_sql(threshold=0.0, shingle_n=3)})
    SELECT c.doc_a, c.doc_b, c.est_jaccard,
           COALESCE(e.jaccard, 0.0) AS exact_jaccard,
           ABS(c.est_jaccard - COALESCE(e.jaccard, 0.0)) AS abs_err
    FROM cand c
    LEFT JOIN exact e ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    """,
    doc="The dedup verification tier as one query: every MinHash-LSH "
    "candidate pair joined with its exact shingle-set Jaccard (computed "
    "only for pairs that share a shingle; COALESCE 0 covers a pure hash "
    "collision). abs_err audits the 6-hash estimator before any doc is "
    "dropped. Cost: exact verification touches candidate pairs only — "
    "never the corpus cross join. Both scores are single IEEE divisions "
    "of exact integers, so the error column is bit-portable.",
    tags=("dedup", "minhash", "verification"),
)
def dedup_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    cand = minhash_lsh_candidates(d, num_hashes=6, band_size=2, shingle_n=3)
    exact = ngram_jaccard_pairs(d, threshold=0.0, shingle_n=3).withColumnRenamed(
        "jaccard", "__exact"
    )
    return (
        cand.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce(F.col("__exact"), F.lit(0.0)).alias("exact_jaccard"),
            F.abs(
                F.col("est_jaccard") - F.coalesce(F.col("__exact"), F.lit(0.0))
            ).alias("abs_err"),
        )
    )


# --------------------------------------------------------------------------
# Trained k-means as a first-class training op + SemDeDup (r12)
# --------------------------------------------------------------------------
#
# knn_ivf's r12 quantizer proved that fixed-point Lloyd's k-means is
# exactly DuckDB-replayable. Two queries promote that machinery
# from an index-internal detail to the training-data-pipeline surface:
# the k-means fit itself (embedding_kmeans_train: the centroid table a
# 100 TB pipeline trains once and caches), and SemDeDup (Abbas et al., 2023, arXiv:2303.09540)
# — semantic dedup that only compares embeddings WITHIN a k-means cell,
# turning the O(N^2) global pair problem into sum-of-cell-squares.

# Within-cell cosine at/above which the larger id drops. 0.4 measured:
# 21/500 docs drop at sf0.01, 148/2000 at sf0.1 — a live minority, the
# dedup-rate regime (0.2 dropped 75%: within-cell pairs are similarity-
# BIASED because k-means co-located them, so the global near-dup
# threshold is too loose here).
_SEMDEDUP_TAU = 0.4


def _semdedup_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import (
        COSINE_SQL,
        ivf_train_sql_ctes,
    )

    ctes = ",\n    ".join(ivf_train_sql_ctes())
    cos = COSINE_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH {ctes},
    cells AS (SELECT vec_id, cidx FROM assign2 WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b
        ON a.cidx = b.cidx AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {cos} >= {_SEMDEDUP_TAU}
    )
    SELECT c.vec_id, c.cidx,
           (d.vec_id IS NULL) AS kept
    FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
    """


@register(
    "dedup_semantic_semdedup",
    oracle=_semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023): semantic dedup that clusters the "
    "embeddings with the trained fixed-point k-means and compares "
    f"cosine ONLY within each cell — a doc drops iff a smaller-id "
    f"in-cell neighbor sits at cosine >= {_SEMDEDUP_TAU} (deterministic "
    "min-id keep rule, no transitive closure needed). The cell scoping "
    "is the scale story: pair volume falls from O(N^2) to "
    "sum-of-cell-squares, and with k = isqrt(N) cells the expected cell "
    "is sqrt(N) docs, so pair work is ~N^1.5 with uniform cells — on "
    "clustered real corpora far less, because the near-dups this op "
    "exists to find are exactly what k-means co-locates. Training, "
    "assignment, AND the keep verdicts replay in the oracle. "
    "Complements dedup_semantic_clusters (global sign-bit-bucket pairs "
    "+ closure): SemDeDup trades recall ACROSS cell boundaries for "
    "bounded per-cell work at 100 TB. The trade is MEASURED by "
    "semdedup_recall_report (r13): at the shipped tau, recall vs the "
    "exact global pair set is 0.37/0.18/0.14 at sf0.01/0.1/1 on the "
    "shell-distributed near-noise fixture (cells are arbitrary there) "
    "and 0.82/0.50 on the clustered mixture fixture at n=500/2000 — "
    "where the n=2000 drop is pure over-segmentation: k = isqrt(N) "
    "cells split the 16 true components (44 cells -> recall 0.50 at "
    "purity 1.00; retraining with n_centroids=16 restores 0.94). On a "
    "real corpus, set n_centroids near the expected cluster count; the "
    "isqrt default is the work-bound-first choice.",
    tags=("dedup", "similarity", "pipeline"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_train_centroids,
        semdedup_cell_dropped_kernel,
    )

    e = load_table(spark, "embeddings", sf_dir)
    cidx, cint = ivf_train_centroids(e)
    # carry_vec: the shared assignment kernel carries the double-cast
    # vector through, so the within-cell pair stage needs no re-join back
    # to the table — 3 embeddings scans total (cells x2: dropped leg +
    # verdict leg), within the sweep's default budget. At 100 TB the
    # cells frame is what you'd materialize bucketed by cidx anyway.
    cells = ivf_assign_cells(e, cidx, cint, carry_vec=True)
    # Within-cell verdicts as ONE numpy kernel per cell — the shared
    # semdedup_cell_dropped_kernel (r13: the interpreted per-pair fold
    # was 50.5 s at sf1; the Arrow kernel 3.3 s; r14 review: one
    # definition shared with the merged variant so the bit-exactness-
    # critical kernel cannot drift between copies).
    dropped = (
        cells.select("cidx", "vec_id", "v")
        .groupBy("cidx")
        .applyInPandas(
            semdedup_cell_dropped_kernel(_SEMDEDUP_TAU), schema="vec_id long"
        )
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        cells.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cidx",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"),
        )
    )


# The exact-reference thresholds the report audits. _SEMDEDUP_TAU is the
# registered operator's threshold (the row that answers "what does the
# shipped config miss"); 0.2 is dedup_semantic_clusters' global threshold
# (the loose-dup regime); 0.6 the tight-dup regime. The exact pair set is
# computed ONCE at min(taus) and re-thresholded per row.
_RECALL_TAUS: tuple[float, ...] = (0.2, _SEMDEDUP_TAU, 0.6)


def _semdedup_recall_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import (
        cosine_pairs_exact_sql,
        ivf_train_sql_ctes,
    )

    ctes = ",\n    ".join(ivf_train_sql_ctes())
    tau_list = ", ".join(str(t) for t in _RECALL_TAUS)
    return f"""
    WITH {ctes},
    cells AS (SELECT vec_id, cidx FROM assign2 WHERE rn = 1),
    pairs AS ({cosine_pairs_exact_sql(min(_RECALL_TAUS))}),
    cpairs AS (
      SELECT p.cos_sim, (ca.cidx = cb.cidx) AS same_cell
      FROM pairs p
      JOIN cells ca ON ca.vec_id = p.id_a
      JOIN cells cb ON cb.vec_id = p.id_b
    ),
    taus AS (SELECT CAST(unnest([{tau_list}]) AS DOUBLE) AS tau)
    SELECT t.tau,
           CAST(SUM(CASE WHEN c.cos_sim >= t.tau THEN 1 ELSE 0 END)
                AS BIGINT) AS exact_pairs,
           CAST(SUM(CASE WHEN c.cos_sim >= t.tau AND c.same_cell
                         THEN 1 ELSE 0 END) AS BIGINT) AS within_cell_pairs,
           CAST(SUM(CASE WHEN c.cos_sim >= t.tau AND NOT c.same_cell
                         THEN 1 ELSE 0 END) AS BIGINT) AS cross_cell_pairs,
           CASE WHEN SUM(CASE WHEN c.cos_sim >= t.tau THEN 1 ELSE 0 END) > 0
                THEN CAST(SUM(CASE WHEN c.cos_sim >= t.tau AND c.same_cell
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(CASE WHEN c.cos_sim >= t.tau THEN 1 ELSE 0 END)
           END AS recall
    FROM taus t CROSS JOIN cpairs c
    GROUP BY t.tau
    """


@register(
    "semdedup_recall_report",
    oracle=_semdedup_recall_oracle(),
    doc="SemDeDup cross-cell recall audit (the knn_recall_report pattern "
    "applied to semantic dedup): the EXACT global cosine near-dup pair "
    "set — all (a < b) pairs, computed by one Arrow-batched broadcast "
    "kernel, never a cartesian — split into pairs whose endpoints share "
    "a trained k-means cell (SemDeDup sees these) vs pairs crossing a "
    "cell boundary (SemDeDup structurally cannot), at the loose / "
    f"shipped (tau={_SEMDEDUP_TAU}) / tight thresholds. recall = "
    "within_cell / exact is the measured value of the documented trade: "
    "pair work falls from O(N^2) to sum-of-cell-squares, recall falls "
    "by exactly the cross-cell fraction this report pins. The recall "
    "join/agg is exact, so the whole report is driver-hash-checkable "
    "even though the cells come from the trained quantizer (whose "
    "training the oracle replays end-to-end).",
    tags=("dedup", "similarity", "audit"),
)
def semdedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import (
        cosine_pairs_exact,
        ivf_assign_cells,
        ivf_train_centroids,
    )

    e = load_table(spark, "embeddings", sf_dir)
    cidx, cint = ivf_train_centroids(e)
    cells = ivf_assign_cells(e, cidx, cint)
    pairs = cosine_pairs_exact(e, threshold=min(_RECALL_TAUS))
    # cells is one row per corpus vector — bounded by the SAME 65,536-row
    # audit contract cosine_pairs_exact just enforced, so broadcast-sized.
    ca = cells.select(F.col("vec_id").alias("id_a"), F.col("cidx").alias("cidx_a"))
    cb = cells.select(F.col("vec_id").alias("id_b"), F.col("cidx").alias("cidx_b"))
    cpairs = (
        pairs.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .select(
            "cos_sim", (F.col("cidx_a") == F.col("cidx_b")).alias("same_cell")
        )
    )
    tagged = cpairs.select(
        F.explode(F.array(*[F.lit(float(t)) for t in _RECALL_TAUS])).alias("tau"),
        "cos_sim",
        "same_cell",
    )
    hit = F.col("cos_sim") >= F.col("tau")
    exact = F.sum(F.when(hit, 1).otherwise(0))
    within = F.sum(F.when(hit & F.col("same_cell"), 1).otherwise(0))
    cross = F.sum(F.when(hit & ~F.col("same_cell"), 1).otherwise(0))
    return (
        tagged.groupBy("tau")
        .agg(
            exact.cast("long").alias("exact_pairs"),
            within.cast("long").alias("within_cell_pairs"),
            cross.cast("long").alias("cross_cell_pairs"),
        )
        .select(
            "tau",
            "exact_pairs",
            "within_cell_pairs",
            "cross_cell_pairs",
            F.when(
                F.col("exact_pairs") > 0,
                F.col("within_cell_pairs").cast("double") / F.col("exact_pairs"),
            ).alias("recall"),
        )
    )


def _knn_graph_dedup_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import knn_graph_ivf_sql

    # knn_graph_ivf_sql is a complete SELECT; wrap it as a CTE and close
    # over the tau-filtered edges with the crossmodal recursive pattern.
    graph_sql = knn_graph_ivf_sql(k=5, nprobe="auto")
    return f"""
    WITH RECURSIVE graph AS ({graph_sql}),
    pairs AS (
      SELECT query_id AS a, neighbor_id AS b FROM graph
      WHERE cos_sim >= {_SEMDEDUP_TAU}
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b, a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, reach.r
      FROM reach JOIN edges e ON e.src = reach.node
    ),
    labels AS (SELECT node, MIN(r) AS root FROM reach GROUP BY node)
    SELECT emb.vec_id,
           CAST(COALESCE(l.root, emb.vec_id) AS BIGINT) AS cluster_id,
           (l.root IS NULL OR l.root = emb.vec_id) AS kept
    FROM embeddings emb LEFT JOIN labels l ON l.node = emb.vec_id
    """


@register(
    "dedup_semantic_knn_graph",
    oracle=_knn_graph_dedup_oracle(),
    doc="Graph-based semantic dedup — the modern complement to SemDeDup, "
    "built on the corpus-wide kNN graph: keep only edges at cosine >= "
    f"{_SEMDEDUP_TAU} (the shared semantic-dedup threshold), run ONE "
    "checkpointed min-label closure over them, keep each cluster's "
    "min-id document. Where SemDeDup structurally cannot see a pair "
    "crossing a k-means cell boundary (semdedup_recall_report measured "
    "the miss rate), the graph's nprobe-cell routing recovers most "
    "cross-cell near-dup pairs at bounded cost — candidate volume is "
    "nprobe*N*(N/cells), never N^2, and the closure is O(diameter) "
    "rounds over a sparse (<= N*k) edge set. Every stage — quantizer "
    "training, per-row probe ranking, the routed graph, the tau filter, "
    "the recursive closure, the keep verdicts — replays in the oracle.",
    tags=("dedup", "similarity", "graph", "pipeline", "iterative"),
)
def dedup_semantic_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from slr207_mapreduce_spark.operators.graph import connected_components
    from slr207_mapreduce_spark.operators.similarity import knn_graph_ivf

    e = load_table(spark, "embeddings", sf_dir)
    g = knn_graph_ivf(e, k=5, nprobe="auto")
    edges = g.where(F.col("cos_sim") >= F.lit(_SEMDEDUP_TAU)).select(
        "query_id", "neighbor_id"
    )
    cc = connected_components(edges, src="query_id", dst="neighbor_id")
    return (
        e.select("vec_id")
        .join(cc.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id"))
            .cast("long")
            .alias("cluster_id"),
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("vec_id"))
            ).alias("kept"),
        )
    )


# The over-merge control's two-tier edge rule (every alternative below
# was measured against ground truth — the sf1 tier's known replica
# families and the clustered fixture's known mixture components;
# SCALE.md round-14):
#
# - An UNAMBIGUOUS edge (cos >= _TAU_STRONG, the tight-dup regime of
#   semdedup_recall_report's _RECALL_TAUS) stands alone. On the clustered fixture
#   within-component similarity (~0.85) clears it, so exact recovery is
#   preserved; on sf1 the replica families sit at cos≈0.6 by
#   construction and merge through it.
# - A BORDERLINE edge (cos in [tau, _TAU_STRONG)) survives only if it is
#   RECIPROCAL-BEST: rank 1 in both directions. Each node has exactly
#   one rank-1 out-edge, so the surviving borderline edges form a
#   MATCHING — borderline similarity can merge at most PAIRS, and
#   over-merge structurally cannot percolate through it; any long-range
#   merge needs a path of unambiguous edges.
#
# Why not the textbook alternatives: plain mutual-kNN (reciprocal
# top-k at any rank) FRAGMENTS clustered corpora (measured: 456
# components vs 16 true on emb_clustered_n2000_k16 — fringe nodes whose
# in-cluster edges are all asymmetric) AND still collapses sf1
# (17,633-member giant: reciprocal ambient ~0.5-cosine edges chain);
# widening reciprocity to top-20 helps neither fully (60 components vs
# 16 true; sf1 still giant).
_TAU_STRONG = 0.6


def _knn_graph_dedup_mutual_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import knn_graph_ivf_sql

    graph_sql = knn_graph_ivf_sql(k=5, nprobe="auto")
    return f"""
    WITH RECURSIVE graph AS ({graph_sql}),
    tau_edges AS (
      SELECT query_id AS a, neighbor_id AS b, cos_sim, rank FROM graph
      WHERE cos_sim >= {_SEMDEDUP_TAU}
    ),
    pairs AS (
      -- two-tier over-merge control: unambiguous edges stand alone;
      -- borderline edges must be reciprocal-BEST (rank 1 both ways —
      -- a matching, so borderline merges cannot chain)
      SELECT t1.a, t1.b FROM tau_edges t1
      WHERE t1.cos_sim >= {_TAU_STRONG}
         OR (t1.rank = 1 AND EXISTS (SELECT 1 FROM tau_edges t2
                    WHERE t2.a = t1.b AND t2.b = t1.a AND t2.rank = 1))
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b, a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, reach.r
      FROM reach JOIN edges e ON e.src = reach.node
    ),
    labels AS (SELECT node, MIN(r) AS root FROM reach GROUP BY node)
    SELECT emb.vec_id,
           CAST(COALESCE(l.root, emb.vec_id) AS BIGINT) AS cluster_id,
           (l.root IS NULL OR l.root = emb.vec_id) AS kept
    FROM embeddings emb LEFT JOIN labels l ON l.node = emb.vec_id
    """


@register(
    "dedup_semantic_knn_graph_mutual",
    oracle=_knn_graph_dedup_mutual_oracle(),
    doc="dedup_semantic_knn_graph with the over-merge control (r13 "
    "VERDICT item 2), a two-tier edge rule measured against ground "
    f"truth: an unambiguous edge (cos >= {_TAU_STRONG}, the tight-dup "
    "regime) stands alone, while a borderline edge (cos in [tau, "
    f"{_TAU_STRONG})) survives only if RECIPROCAL-BEST — rank 1 in both "
    "directions, one left-semi self-join over the <= N*k edge set. "
    "Surviving borderline edges form a MATCHING (each node has one "
    "rank-1 out-edge), so over-merge structurally cannot percolate "
    "through borderline similarity — the guarantee plain closures lack. "
    "Measured on sf1 (20k vectors, known 10-replica families at "
    "cos~0.6): the plain closure collapses to ONE ~20,000-member "
    "component; this rule yields ~2,026 components, largest 18, ~98% "
    "of them family-pure — while the clustered fixture's exact "
    "component recovery is preserved (pinned by test; within-cluster "
    "similarity clears the unambiguous tier). Pure mutual-kNN fails "
    "both ways (fragments clustered corpora, still chains sf1 through "
    "reciprocal ambient edges) — SCALE.md round-14. Fully "
    "oracle-replayable.",
    tags=("dedup", "similarity", "graph", "pipeline", "iterative"),
)
def dedup_semantic_knn_graph_mutual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from slr207_mapreduce_spark.operators.graph import connected_components
    from slr207_mapreduce_spark.operators.similarity import knn_graph_ivf

    e = load_table(spark, "embeddings", sf_dir)
    g = knn_graph_ivf(e, k=5, nprobe="auto")
    tau_edges = g.where(F.col("cos_sim") >= F.lit(_SEMDEDUP_TAU)).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )
    best = tau_edges.where(F.col("rank") == 1)
    rev_best = best.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    reciprocal_best = (
        best.join(rev_best, ["query_id", "neighbor_id"], "left_semi")
        .select("query_id", "neighbor_id")
    )
    strong = tau_edges.where(
        F.col("cos_sim") >= F.lit(_TAU_STRONG)
    ).select("query_id", "neighbor_id")
    kept_edges = reciprocal_best.unionByName(strong).distinct()
    cc = connected_components(kept_edges, src="query_id", dst="neighbor_id")
    return (
        e.select("vec_id")
        .join(cc.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id"))
            .cast("long")
            .alias("cluster_id"),
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("vec_id"))
            ).alias("kept"),
        )
    )


def _semdedup_merged_oracle() -> str:
    from slr207_mapreduce_spark.operators.similarity import (
        COSINE_SQL,
        ivf_train_sql_ctes,
        merged_cells_sql_ctes,
    )

    ctes = ",\n    ".join(
        ivf_train_sql_ctes() + merged_cells_sql_ctes(merge_tau=_TAU_STRONG)
    )
    cos = COSINE_SQL.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH RECURSIVE {ctes},
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM mcells a JOIN mcells b
        ON a.mcidx = b.mcidx AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE {cos} >= {_SEMDEDUP_TAU}
    )
    SELECT c.vec_id, c.mcidx AS cidx,
           (d.vec_id IS NULL) AS kept
    FROM mcells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
    """


@register(
    "dedup_semantic_semdedup_merged",
    oracle=_semdedup_merged_oracle(),
    doc="SemDeDup with the self-dialing over-segmentation fix (r13 "
    "VERDICT item 7): after training, cells whose centroid cosine "
    f"reaches {_TAU_STRONG} are UNIONED (min-label closure over the "
    "<= k^2 centroid pairs — centroid state, not corpus state) and the "
    "within-cell pair stage runs over the MERGED cells. The dial needs "
    "no knowledge of the true cluster count: k-means at k = isqrt(N) "
    "on a corpus with fewer true components SPLITS them, and split "
    "cells' centroids are nearly parallel (measured >= 0.9 on the "
    "clustered fixtures) while distinct-content centroids stay <= 0.45 "
    "on every shell/near-noise tier — so near-noise corpora merge "
    "NOTHING (output identical to dedup_semantic_semdedup, pinned by "
    "test) and over-segmented corpora recover the cross-cell pairs the "
    "r13 recall audit showed plain SemDeDup structurally misses "
    "(clustered n=2000: recall 0.50 -> >= 0.9 at auto dials, pinned by "
    "test). Pair work stays sum-of-merged-cell-squares; training, the "
    "merge closure, assignment, and the verdicts all replay in the "
    "oracle.",
    tags=("dedup", "similarity", "pipeline"),
)
def dedup_semantic_semdedup_merged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from slr207_mapreduce_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_train_centroids,
        merge_trained_cells,
        semdedup_cell_dropped_kernel,
    )

    e = load_table(spark, "embeddings", sf_dir)
    cidx, cint = ivf_train_centroids(e)
    mcidx = merge_trained_cells(cidx, cint, merge_tau=_TAU_STRONG)
    # assignment still ranks the ORIGINAL centroids in original cidx
    # order (the merge changes pair scoping, not the quantizer — ties
    # break on the original id exactly like the oracle's assign CTE);
    # passing the merged labels as the kernel's output ids applies the
    # cidx -> mcidx map in the same pass
    cells = ivf_assign_cells(e, mcidx, cint, carry_vec=True)
    dropped = (
        cells.select("cidx", "vec_id", "v")
        .groupBy("cidx")
        .applyInPandas(
            semdedup_cell_dropped_kernel(_SEMDEDUP_TAU), schema="vec_id long"
        )
        .withColumn("is_dropped", F.lit(True))
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cidx",
        F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("kept"),
    )

