"""The ONE module allowed to touch Spark private APIs (round-5 verdict
item #10).

The iterative graph operators need RDD-level control that the public
DataFrame API does not expose: ``localCheckpoint`` blocks are pinned at
the RDD layer, ``DataFrame.unpersist()`` goes through the CacheManager
and never frees them, so superseded per-round checkpoints would live for
the whole session and compound across the driver's query set (observed
storage-pressure failures at sf0.1 before the release path existed).

Everything here rides py4j handles that are version-sensitive
(``df._jdf.queryExecution().analyzed()``, ``sc._jsc.getPersistentRDDs()``).
There is no fallback: if the private surface changes, these functions
raise, so a Spark upgrade fails loudly instead of silently leaking
checkpoint blocks for the session. tests/test_graph.py pins the surface
and the Spark minor it was validated against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def logical_rdd_leaf_ids(df: DataFrame) -> set[int]:
    """Ids of every LogicalRDD leaf under ``df``'s analyzed plan — the
    localCheckpoint blocks a (possibly projected) result frame pins. For a
    frame fresh out of ``localCheckpoint`` this is exactly the one RDD the
    checkpoint persisted."""
    ids: set[int] = set()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getName().endswith("LogicalRDD"):
            ids.add(leaf.rdd().id())
    return ids


def unpersist_rdd_ids(sc, ids: set[int]) -> None:
    """RDD-level unpersist for exactly the given ids; no-op on empty input."""
    if not ids:
        return
    for e in sc._jsc.getPersistentRDDs().entrySet().toArray():
        if e.getKey() in ids:
            e.getValue().unpersist(False)
