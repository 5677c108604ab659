"""Deduplication operators — the LLM-data-pipeline extension family
(BASELINE.json north_star; SURVEY.md §2.1 last row).

MapReduce lineage: every variant is a multi-round MapReduce over the
reference's primitives — shingle/tokenize (map, O5), signature computation
(reduce per doc, O9), band-bucket redistribution (shuffle, O8), candidate
verification (reduce per bucket, O9). Here each round is a DataFrame op;
Spark fuses and pipelines them.

Scale design (100 TB):
- Exact dedup: hash-groupBy on content fingerprint — one shuffle of
  (hash, id), never the payload.
- MinHash+LSH: per-doc signatures are a groupBy (one shuffle of distinct
  doc-shingle pairs); candidate generation joins on (band, band_key) so
  only docs sharing a bucket meet — never the O(n²) cross join.
- SimHash: 16-bit signature per doc via bit-vote aggregation; near-dup =
  hamming ≤ k within signature buckets.
- All hashes are md5-based (functions/portable.py) so the DuckDB oracle
  reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slr207_mapreduce_spark.functions.portable import (
    portable_hash64,
    portable_hash64_lane_sql,
    portable_hash64_sql,
)

# --------------------------------------------------------------------------
# Shingling (word n-grams)
# --------------------------------------------------------------------------


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Array of word n-gram shingles of a whitespace-tokenized text column.
    Empty array when the doc has fewer than n tokens (Spark's sequence()
    would otherwise run descending and fabricate shingles).

    The tokenization is BOUND as a lambda variable via a 1-element outer
    transform (``transform(array(split(..)), t -> ...)[0]``), not inlined
    into the index lambda: an inlined ``split`` re-evaluates per element in
    interpreted HOF eval — O(tokens²) per doc (the test_longdoc hazard
    class). Shingle assembly indexes ``t`` directly rather than slicing
    (slice allocates a sub-array per element)."""
    refs = ", ".join(f"t[i + {j} - 1]" for j in range(n))
    return F.expr(
        f"transform(array(split({text_col}, ' ')), t -> "
        f"CASE WHEN size(t) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', {refs})) END)[0]"
    )


def shingle_tokens_cte_sql(text_col: str = "text", src: str = "documents") -> str:
    """The split-once CTE body every shingle oracle must scan from:
    ``(SELECT doc_id, string_split(text, ' ') AS __t FROM documents)``.

    Splitting inside the shingle lambda re-evaluates ``string_split`` per
    lambda ELEMENT in DuckDB — O(tokens²) per document, a multi-minute hang
    on a single 100k-token doc (caught by tests/test_longdoc.py)."""
    return f"SELECT doc_id, string_split({text_col}, ' ') AS __t FROM {src}"


def shingles_sql(tok_col: str = "__t", n: int = 3) -> str:
    """DuckDB rendering of :func:`shingles` over an ALREADY-SPLIT token-list
    column (see :func:`shingle_tokens_cte_sql`; 1-based indexing, same n).

    Shingles are built by direct element indexing ``t[i] || ' ' || t[i+1]``,
    not ``array_to_string(list_slice(...))`` — list_slice inside a lambda
    costs O(list) per element in DuckDB (the other half of the O(tokens²)
    blowup; 0.2 s vs >120 s on the long-doc corpus)."""
    joined = " || ' ' || ".join(f"{tok_col}[i + {j}]" for j in range(n))
    return (
        f"list_transform(range(1, greatest(len({tok_col}) - {n - 1}, 0) + 1), "
        f"i -> {joined})"
    )


def doc_shingles(
    docs: DataFrame, id_col: str = "doc_id", n: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, shingle) pairs — the inverted-index input.

    Tokenizes in a separate projection so ``split`` runs once per row;
    inlining it into the shingle expression re-splits the text for every
    sub-expression (no CSE across the CASE/transform/slice tree) — measured
    2.3× slower on the sf0.1 corpus.

    ``distinct=True`` gives set semantics (required for exact Jaccard — a
    full shuffle). MinHash callers pass ``distinct=False``: min over the
    multiset equals min over the set, so the dedup shuffle is pure waste
    there.

    The narrow-scan rebalance hash-partitions on ``id_col`` (not
    round-robin): both downstream consumers key on doc id — the MinHash
    signature groupBy and the exact-Jaccard distinct — so they inherit this
    partitioning and run with ZERO additional exchange (doc ids are
    high-cardinality, so key skew is a non-issue)."""
    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    docs = parallelize_narrow_scan(docs, by=id_col)
    refs = ", ".join(f"t[i+{j}-1]" for j in range(n))
    shingle = (
        f"CASE WHEN size(t) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(t) - {n - 1}), i -> concat_ws(' ', {refs})) END"
    )
    out = docs.select(F.col(id_col), F.split("text", " ").alias("t")).select(
        F.col(id_col), F.explode(F.expr(shingle)).alias("sh")
    )
    return out.distinct() if distinct else out


# --------------------------------------------------------------------------
# MinHash signatures + LSH banding
# --------------------------------------------------------------------------


def minhash_signatures(
    doc_sh: DataFrame, num_hashes: int = 6, id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc MinHash signature: h{s} = min over shingles of hash_s(shingle).

    One aggregation — num_hashes mins computed in the same reduce pass.
    Hash family s is lane (s mod 2) of md5 digest pair (s div 2)
    (functions/portable.py::portable_hash64_lane), so k hashes cost
    ceil(k/2) md5 evaluations; the digests are projected once below so the
    per-min lane extraction is a cheap substring, not a re-hash.

    The hex→long ``conv`` runs per (doc, shingle) ROW and the min is taken
    over BIGINT lanes, NOT over the hex strings with conv deferred to
    after the agg. Same bits either way (15 fixed-width lowercase hex
    chars = 60 bits, always non-negative as a signed 64-bit value, so
    numeric order ≡ lexicographic order), but the buffer type decides the
    physical aggregate: ``min`` over strings has a variable-width buffer,
    which HashAggregate cannot hold, so Spark silently plans
    Sort + SortAggregate — a full O(n log n) sort of every digest row,
    in BOTH the partial and final stages. Measured at the docs_sf10 spot
    tier (26M shingle rows): string-min 104 s of executor time in the
    partial stage vs long-min a few seconds; the k extra integer parses
    per row are noise next to the md5s."""
    npairs = (num_hashes + 1) // 2
    # selectExpr strings, not per-column F.* composition: the expressions
    # parse JVM-side in one round trip, cutting the builder's py4j latency
    # ~3x (build time is 30-50% of a small-SF bench run; execution and the
    # produced bits are identical).
    digests = doc_sh.selectExpr(
        id_col, *[f"md5(concat('s{p}|', sh)) AS d{p}" for p in range(npairs)]
    )
    lanes = digests.selectExpr(
        id_col,
        *[
            f"CAST(conv(substring(d{s // 2}, {1 + 16 * (s % 2)}, 15), 16, 10)"
            f" AS BIGINT) AS v{s}"
            for s in range(num_hashes)
        ],
    )
    aggs = [F.min(f"v{s}").alias(f"h{s}") for s in range(num_hashes)]
    return lanes.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sigs: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
    id_col: str = "doc_id",
    carry_signature: bool = False,
) -> DataFrame:
    """Explode signatures into (doc, band, band_key) rows; docs sharing a
    band_key in any band are LSH candidates. With ``carry_signature`` the
    h* columns ride along so downstream similarity estimation needs no
    join back to the signature table."""
    num_bands = num_hashes // band_size
    carried = [f"h{s}" for s in range(num_hashes)] if carry_signature else []
    entries = []
    for b in range(num_bands):
        cols = [f"h{b * band_size + j}" for j in range(band_size)]
        key = f"md5(concat_ws('_', {', '.join(f'CAST({c} AS STRING)' for c in cols)}))"
        entries.append(f"struct(CAST({b} AS INT) AS band, {key} AS bkey)")
    # ONE explode instead of a union of per-band projections: a union
    # re-evaluates the signature subtree once per branch; the explode keeps
    # a single consumer so signatures are computed exactly once.
    return sigs.selectExpr(
        id_col,
        *carried,
        f"explode(array({', '.join(entries)})) AS __bk",
    ).selectExpr(id_col, "__bk.band AS band", "__bk.bkey AS bkey", *carried)


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs via MinHash LSH with estimated Jaccard.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b. est_jaccard =
    fraction of agreeing minhashes — the unbiased Jaccard estimator.
    """
    # An Arrow MinHash kernel lost its A/B to this JVM path and was deleted
    # (OPTIMIZATION_r16.md §1; recoverable from commit d623161).
    sigs = minhash_signatures(
        doc_shingles(docs, id_col, shingle_n, distinct=False), num_hashes, id_col
    )
    # Bands CARRY the full signature so pair scoring needs no join back to
    # sigs. Pairs are generated INSIDE each (band, bkey) bucket: one
    # groupBy-collect shuffle, then intra-bucket pairing with array lambdas.
    # A band self-join would compute the whole signature pipeline twice
    # (Spark's exchange reuse does not fire across the a/b aliases —
    # measured 2.4s vs 1.4s at sf0.1) and shuffle both sides; this shape
    # scans and hashes the corpus once. Buckets are tiny by construction
    # (a band collision is a 1-in-2^60 event for dissimilar docs), so the
    # collected arrays stay small; at 100 TB a hot bucket means a
    # degenerate band key — cap or drop oversized buckets there, they
    # carry no discriminating signal anyway.
    bands = lsh_bands(sigs, num_hashes, band_size, id_col, carry_signature=True)
    member = (
        f"struct({id_col} AS id, "
        + ", ".join(f"h{s}" for s in range(num_hashes))
        + ")"
    )
    buckets = bands.groupBy("band", "bkey").agg(
        F.expr(f"array_sort(collect_list({member}))").alias("ds")
    )
    # All ordered pairs (x before y in the id-sorted array) => doc_a < doc_b.
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, greatest(size(ds) - i - 1, 0)), "
        "y -> struct(x AS a, y AS b))))"
    )
    pairs = buckets.where("size(ds) > 1").selectExpr(
        "band", f"explode({pair_expr}) AS p"
    )
    # Emit each pair from its FIRST matching band only, instead of a global
    # `.distinct()`: a pair can surface in several bands (same doc appears
    # once per band, so never twice within one), and the carried signatures
    # let the pair row itself recompute any earlier band's bucket key. The
    # predicate is md5-key equality — EXACTLY the bucket-join predicate the
    # candidates (and the oracle) are defined by, so the kept set is
    # bit-identical to DISTINCT over all bands. This replaces a full shuffle
    # of the candidate-pair set (billions of rows at 100 TB — LSH's whole
    # output) with a per-row filter costing ≤ (num_bands-1) md5 pairs on
    # only the candidate rows.
    num_bands = num_hashes // band_size

    def _bkey_of(side: str, b: int) -> str:
        cols = ", ".join(
            f"CAST(p.{side}.h{b * band_size + j} AS STRING)"
            for j in range(band_size)
        )
        return f"md5(concat_ws('_', {cols}))"

    clauses = [
        f"(band > {b} AND {_bkey_of('a', b)} = {_bkey_of('b', b)})"
        for b in range(num_bands - 1)
    ]
    if clauses:
        pairs = pairs.where(f"NOT ({' OR '.join(clauses)})")
    agree = " + ".join(
        f"(CASE WHEN p.a.h{s} = p.b.h{s} THEN 1 ELSE 0 END)"
        for s in range(num_hashes)
    )
    return pairs.selectExpr(
        "p.a.id AS doc_a",
        "p.b.id AS doc_b",
        f"CAST({agree} AS DOUBLE) / CAST({float(num_hashes)} AS DOUBLE)"
        " AS est_jaccard",
    )


def minhash_lsh_sql(
    num_hashes: int = 6, band_size: int = 2, shingle_n: int = 3
) -> str:
    """DuckDB oracle reproducing :func:`minhash_lsh_candidates` bit-for-bit."""
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
    agree = " + ".join(
        f"CASE WHEN ma.h{s} = mb.h{s} THEN 1 ELSE 0 END" for s in range(num_hashes)
    )
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
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({agree} AS DOUBLE) / {float(num_hashes)} AS est_jaccard
    FROM cand
    JOIN mh ma ON ma.doc_id = doc_a
    JOIN mh mb ON mb.doc_id = doc_b
    """


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (verification path / small-scale exact near-dup)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float, shingle_n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard over shingle sets via the inverted-index self-join
    (shuffle on shingle — only docs sharing a shingle ever meet)."""
    sh = doc_shingles(docs, id_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame, threshold: float, shingle_n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin): index
    only each doc's first ``|d| - floor(t*|d|) + 1`` shingles under a
    global rarest-first order, because J(A,B) >= t forces an overlap of
    at least ceil(t*|A|) elements, so two qualifying docs MUST share a
    prefix element (flooring instead of ceiling only lengthens the
    prefix — completeness is never at risk from float rounding).
    Candidates meet on prefix shingles only; verification computes the
    exact intersection JVM-side with array_intersect over the docs'
    full sorted shingle arrays — the candidate pair list never re-joins
    the full inverted index. Same output, bit for bit, as
    :func:`ngram_jaccard_pairs` (pinned in tests/test_llm_ops.py); the
    difference is WHERE the work lands at scale: the self-join touches
    only rare-prefix postings (frequent shingles — the skewed buckets
    that dominate the plain index join — fall out of every doc's prefix
    by construction), and verification is O(candidates * |d|)."""
    from pyspark.sql import Window

    sh = doc_shingles(docs, id_col, shingle_n)
    rarity = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("sh"))
    wsz = Window.partitionBy(id_col)
    prefix = (
        sh.join(rarity, "sh")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .where(
            F.col("rn")
            <= F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + 1
        )
        .select(id_col, "sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    arrays = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("sh")).alias("arr"),
        F.count(F.lit(1)).alias("sz"),
    )
    aa = arrays.select(
        F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a")
    )
    ab = arrays.select(
        F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b")
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# Plan-choice threshold for ngram_jaccard_pairs_auto: take the prefix
# path when the hottest posting list covers at least 1/SKEW_DF_RATIO of
# the corpus — a bucket that size makes the plain self-join's hottest
# bucket ~(n/RATIO)^2 pairs, the quadratic regime prefix filtering
# exists for. Measured regimes (SCALE.md round-11b): boilerplate corpora
# sit at max_df/n ≈ 1.0, the real documents tables at 0.005-0.014 —
# three orders of magnitude of separation, so the exact ratio is not
# delicate.
SKEW_DF_RATIO = 4


def ngram_jaccard_skew_probe(
    docs: DataFrame, shingle_n: int = 3, id_col: str = "doc_id"
) -> tuple[int, int]:
    """(max posting-list df, corpus doc count) — the decision probe for
    :func:`ngram_jaccard_pairs_auto`. One aggregation over the shingle
    projection (the same shingle-df aggregate the prefix plan computes as
    its rarity table) plus a metadata-cheap doc count."""
    sh = doc_shingles(docs, id_col, shingle_n)
    row = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("max_df"))
        .collect()[0]
    )
    from slr207_mapreduce_spark.sources.tables import metadata_row_count

    n_docs = metadata_row_count(docs)
    return int(row.max_df or 0), docs.count() if n_docs is None else n_docs


def ngram_jaccard_pairs_auto(
    docs: DataFrame, threshold: float, shingle_n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard pairs with a SELF-SELECTING plan (r11 VERDICT item 5).

    :func:`ngram_jaccard_pairs` (plain inverted-index self-join) is ~2x
    faster on bounded-bucket corpora; :func:`ngram_jaccard_pairs_prefix`
    (AllPairs/PPJoin prefix filtering) is 3.2x faster under boilerplate
    skew and the gap grows ~N^2 (SCALE.md round-11b). Both emit
    bit-identical pairs, so the choice is pure physics — this entry point
    makes it per-run from a cheap probe: the max posting-list df from the
    shingle-df aggregate the prefix plan needs anyway. If the hottest
    posting list covers >= 1/``SKEW_DF_RATIO`` of the corpus, the plain
    join's hottest bucket is quadratic in corpus size -> prefix plan;
    otherwise plain. The probe costs one shingle aggregation — one
    corpus pass, amortized against the 3-5 passes either plan runs.
    Output (and hence the oracle) is identical either way."""
    max_df, n_docs = ngram_jaccard_skew_probe(docs, shingle_n, id_col)
    if max_df * SKEW_DF_RATIO >= n_docs and n_docs > 0:
        return ngram_jaccard_pairs_prefix(docs, threshold, shingle_n, id_col)
    return ngram_jaccard_pairs(docs, threshold, shingle_n, id_col)


def ngram_jaccard_sql(threshold: float, shingle_n: int = 3) -> str:
    return f"""
    WITH __tk AS ({shingle_tokens_cte_sql()}),
    sh AS (
      SELECT DISTINCT doc_id, unnest({shingles_sql('__t', shingle_n)}) AS s
      FROM __tk
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= {threshold}
    """


# --------------------------------------------------------------------------
# Content-defined chunking (Rabin/LBFS-style)
# --------------------------------------------------------------------------

CDC_SEED = 77
CDC_MOD = 8  # boundary after tokens whose hash % CDC_MOD == 0 (~8-tok chunks)


def cdc_chunk_table(
    docs: DataFrame, id_col: str = "doc_id", seed: int = CDC_SEED, mod: int = CDC_MOD
) -> DataFrame:
    """(doc_id, chunk_id, chunk_text, chunk_hash) under content-defined
    chunking: a chunk boundary falls after every token whose portable hash
    ≡ 0 (mod ``mod``). Boundaries depend only on LOCAL content, so an
    insertion shifts chunk frames instead of re-aligning every downstream
    window — the classic LBFS/storage-dedup construction, and the
    robustness the fixed 32-token windows of dedup_substring_spans lack.

    Plan (r15, guide §2.4): SHUFFLE-FREE. Chunking is a per-document
    computation, so it is done entirely inside the row with array
    higher-order functions — boundary positions via one filter over the
    token array, then one slice + array_join per chunk — and only the
    finished chunks are exploded. The previous formulation exploded every
    TOKEN and recovered per-doc order with a doc-keyed window prefix-sum
    plus a collect_list+array_sort groupBy: one full exchange and two
    sorts of the entire token stream, ~O(corpus tokens) shuffled bytes at
    100 TB for a value that never needed to leave its row (measured at
    the longdoc tier: 1.11 s → see OPTIMIZATION_r15.md; plan diff
    1 Exchange + Window + SortAggregate → 0 Exchange). Rows, chunk ids,
    texts and hashes are bit-identical (same boundary rule, same
    order-preserving assembly; oracle unchanged, pinned by
    tests/test_pipeline_r4b.py).

    Expression-shape notes (the test_longdoc hazard class): the token
    array is BOUND once via a 1-element outer transform (an inlined
    split would re-evaluate per lambda element — O(tokens²)); boundary
    positions likewise bound once; chunk assembly slices the bound
    array, O(chunk) per chunk so O(tokens) per doc total."""
    h = (
        f"CAST(conv(substring(md5(concat('s{seed}|', element_at(t, i))), 1, 15),"
        f" 16, 10) AS BIGINT)"
    )
    chunks = (
        "transform(array(split(text, ' ')), t -> "
        f"  transform(array(filter(sequence(1, size(t)), i -> {h} % {mod} = 0)), bp -> "
        "    transform("
        # trailing-chunk test in evaluation-order-independent form (r15
        # ADVICE): element_at(bp, 0) errors, so the empty-boundary case must
        # be decided by the IF itself, not by OR short-circuiting.
        "      sequence(1, size(bp) + IF(size(bp) = 0, 1, IF(element_at(bp, size(bp)) < size(t), 1, 0))),"
        "      jj -> array_join(slice(t,"
        "        IF(jj = 1, 1, element_at(bp, jj - 1) + 1),"
        "        IF(jj <= size(bp), element_at(bp, jj), size(t))"
        "          - IF(jj = 1, 1, element_at(bp, jj - 1) + 1) + 1"
        "      ), ' ')"
        "    )"
        "  )[0]"
        ")[0]"
    )
    return docs.select(
        F.col(id_col),
        F.posexplode(F.expr(chunks)).alias("__j", "chunk_text"),
    ).select(
        F.col(id_col),
        F.col("__j").cast("long").alias("chunk_id"),
        "chunk_text",
        F.md5("chunk_text").alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(docs: DataFrame, id_col: str = "doc_id", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over distinct whitespace tokens: bit i of the
    signature is the sign of the per-bit vote sum across token hashes.

    The scan is rebalanced by ``id_col`` so the token distinct AND the vote
    groupBy both inherit the partitioning — the whole signature computes in
    one stage after the initial rebalance."""
    from slr207_mapreduce_spark.operators.skew import parallelize_narrow_scan

    docs = parallelize_narrow_scan(docs, by=id_col)
    toks = (
        docs.select(F.col(id_col), F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") > 0)
        .distinct()
        .withColumn("h", portable_hash64(F.col("tok")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") >= 0, F.lit(1 << i)).otherwise(0)
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"CASE WHEN v{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(bits))
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, {portable_hash64_sql('tok')} AS h
      FROM toks WHERE length(tok) > 0
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    """


def simhash_band_pairs(
    sigs: DataFrame,
    *,
    max_hamming: int = 2,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs at ``hamming(simhash) <= max_hamming`` via bit-sampling
    LSH: split the ``bits``-bit signature into ``bands`` equal bands, equi-join
    on (band index, band value), verify exact Hamming distance on candidates.

    Recall is exact, not approximate: ``max_hamming`` differing bits can touch
    at most ``max_hamming`` bands, so with ``bands > max_hamming`` every
    qualifying pair shares at least one identical band (pigeonhole) and
    therefore survives the equi-join. This replaces the labeled all-pairs
    broadcast-nested-loop formulation — the shuffle keys on (band, value), so
    at production widths (64-bit signatures, 16-bit bands → 65k buckets/band)
    the comparison volume is sum of per-bucket squares, not n². At the test
    width (16 bits, 4-bit bands) buckets are coarse, but the plan shape is
    the one that scales and Catalyst picks a shuffled hash join.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} must exceed max_hamming={max_hamming} for exact recall"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    w = bits // bands
    mask = (1 << w) - 1
    band_vals = F.array(
        *[F.shiftright(F.col("simhash"), w * i).bitwiseAND(F.lit(mask)) for i in range(bands)]
    )
    banded = sigs.select(
        F.col(id_col), F.col("simhash"), F.posexplode(band_vals).alias("band", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may collide in several bands; emit it once
    )
