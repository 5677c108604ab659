"""Every registered query against its DuckDB oracle on sf0.01.

Each case is ``tools/check.py``'s per-query check: an oracled query must
match DuckDB exactly (row count, column names, values) with comparator-safe
cells on both sides; a rows-only query (``oracle=None``) must build, run and
emit comparator-safe cells."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT


def _specs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()


@pytest.mark.parametrize("qname", sorted(_specs()))
def test_query_matches_oracle(spark, qname):
    from tools.check import check_one

    line, verdict = check_one(_specs()[qname], spark, SF_CORRECT)
    assert verdict != "fail", line


def test_bench_queries_are_registered_and_oracled():
    """Every query bench.py times (the headline and every tier) must exist
    in the registry and carry a full DuckDB oracle — the bench sets are the
    most-audited surface."""
    import bench

    specs = _specs()
    names = set(bench.BENCH_QUERIES)
    for _data_dir, _runs, queries in bench.TIERS.values():
        names.update(queries)
    for name in sorted(names):
        assert name in specs, name
        assert specs[name].oracle is not None, name
