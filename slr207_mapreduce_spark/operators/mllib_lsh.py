"""MLlib-backed LSH (SURVEY.md §2.1 last row names MinHashLSH as the
library path).

This wraps spark.ml's fitted-model MinHashLSH: JVM-side, battle-tested
banding — the off-the-shelf alternative to the md5-portable
implementation in operators/dedup.py. Model hashes are seeded but use
Spark-internal hash families a SQL oracle can't reproduce, so the query
built on it is rows-only checked; tests validate it against the exact
operator instead (tests/test_mllib_lsh.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def minhash_neardup_pairs_ml(
    docs: DataFrame,
    jaccard_distance_threshold: float = 0.6,
    shingle_n: int = 3,
    num_hash_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup candidate pairs via MLlib MinHashLSH over shingle sets.

    Pipeline: shingles → HashingTF sparse vectors (set semantics via
    binary=True) → MinHashLSH.approxSimilarityJoin. Returns
    (doc_a, doc_b, jaccard_distance) with doc_a < doc_b.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from slr207_mapreduce_spark.operators.dedup import shingles

    sh = docs.select("doc_id", shingles("text", shingle_n).alias("sh")).where(
        F.size("sh") > 0
    )
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(sh)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = mh.fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, jaccard_distance_threshold, distCol="jaccard_distance"
    )
    return (
        joined.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("jaccard_distance"),
        )
    )
