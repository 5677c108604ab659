"""Every registered query's output must be comparator-safe at sf0.001.

Correctness is adjudicated by materializing each query's output to pandas
and canonicalizing with a raw ``sort_values`` + value-hash over the
untouched cells. That crashes or silently mismatches on list/struct/bytes/
Decimal/mixed-type cells even when values agree with the oracle (observed
round 1: ``unhashable type: list`` on agg_collect_sorted). ``tools/check.py``
runs the same cell check at sf0.01; this sweep walks every registered query
on the smallest tier too, where near-empty groups and all-NULL columns can
change what pandas makes of a cell, and asserts scalar, single-typed,
hashable cells — the shape ``tools/check.py::comparator_unsafe_cols``
enforces.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _all_specs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return sorted(all_queries().items())


@pytest.mark.parametrize("name,spec", _all_specs(), ids=lambda v: v if isinstance(v, str) else "")
def test_query_output_is_comparator_safe(spark, name, spec):
    from tools.check import comparator_unsafe_cols

    # limit() bounds materialization cost without changing column shapes;
    # most outputs are small aggregates anyway
    pdf = spec.build(spark, SF_SMOKE).limit(200).toPandas()
    unsafe = comparator_unsafe_cols(pdf)
    assert not unsafe, (
        f"{name} emits cells the comparator chokes on: {unsafe}; "
        "serialize to scalar (array_join / cast) in BOTH the Spark builder "
        "and the oracle SQL"
    )
