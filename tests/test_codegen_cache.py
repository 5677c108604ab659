"""The generated-class cache holds the headline working set: a second pass
over bench.py's headline queries reuses every class the first pass
compiled. At Spark's default of 100 entries the ~180 headline classes
thrash the LRU cache and each later pass recompiles most of them."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_second_headline_pass_compiles_nothing(spark):
    import bench
    from slr207_mapreduce_spark.plans.base import all_queries
    from slr207_mapreduce_spark.session import SCALE_DEFAULTS

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == SCALE_DEFAULTS[key]

    specs = all_queries()

    def headline_pass():
        for name in bench.BENCH_QUERIES:
            specs[name].build(spark, SF_SMOKE).write.mode("overwrite").format("noop").save()

    headline_pass()
    before = bench.codegen_compiles(spark)
    headline_pass()
    assert bench.codegen_compiles(spark) - before == 0
