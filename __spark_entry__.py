"""Driver contract for the spark-graft builder (PySpark target).

A caller runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
values). ``tools/check.py`` is that comparison over the whole registry.

All real logic lives in ``slr207_mapreduce_spark/``; this module is a thin
adapter over the query registry (slr207_mapreduce_spark/plans/base.py),
whose dicts are in registration order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's own word
    count (global top-20, reference semantics per SURVEY.md §1.3) over the
    documents corpus."""
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()["wordcount_topk"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from slr207_mapreduce_spark.plans.base import all_queries

    return {name: spec.build for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every SQL-expressible query; omitted for
    the (streaming/iterative) specs where oracle is None → rows-only check."""
    from slr207_mapreduce_spark.plans.base import all_queries

    return {
        name: spec.oracle
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }
