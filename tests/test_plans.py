"""Physical-plan assertions — the 100 TB scale contract (SURVEY.md §4.2).

Correct results aren't enough: these tests pin the plan SHAPE — filters
reach the parquet scan, dimension joins broadcast, scaling-table joins do
NOT broadcast, top-K compiles to TakeOrderedAndProject, hot paths stay
inside whole-stage codegen with no Python UDFs, and aggregations are
partial (map-side combine — the reference's biggest missing optimization).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _specs():
    from slr207_mapreduce_spark.plans.base import all_queries

    return all_queries()


def test_filter_pushdown_reaches_parquet_scan(spark):
    """q6's four predicates must appear as PushedFilters on the scan."""
    plan = _plan(_specs()["q6_forecast_revenue"].build(spark, SF_SMOKE))
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed down: {pushed}"


def test_column_pruning_reads_only_needed_columns(spark):
    """wordcount reads only `text` from documents (ReadSchema pruned)."""
    plan = _plan(_specs()["wordcount_topk"].build(spark, SF_SMOKE))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read
    for col in ("lang", "source", "n_chars", "doc_id"):
        assert col not in read, f"unpruned column {col}: {read}"


def test_dimension_joins_broadcast(spark):
    """q5: nation/region/supplier sides broadcast (no fact shuffle for dims)."""
    plan = _plan(_specs()["q5_local_supplier_volume"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topk_is_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (O(n log k)),
    not a global sort."""
    plan = _plan(_specs()["q3_shipping_priority"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_wordcount_has_partial_aggregation(spark):
    """The map-side combine the reference lacks: HashAggregate must appear
    twice (partial + final) around the exchange."""
    plan = _plan(_specs()["wordcount_full"].build(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "hashpartitioning" in plan


@pytest.mark.slow  # >30 s scale/e2e leg (r15 VERDICT item 2)
def test_no_python_udf_in_relational_hot_paths(spark):
    """Core relational + parity + text queries must stay JVM-side: no
    BatchEvalPython (row-at-a-time UDF) nodes anywhere. (udf_* queries are
    the explicit UDF surface and are exempt.)"""
    specs = _specs()
    for name, spec in specs.items():
        if name.startswith(("udf_", "udtf_", "multimodal_")):
            continue
        plan = _plan(spec.build(spark, SF_SMOKE), "extended")
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_wholestage_codegen_covers_wordcount(spark):
    # with AQE the codegen'd final plan exists only after execution;
    # '*(id)' marks whole-stage-codegen spans in the executed plan tree
    df = _specs()["wordcount_full"].build(spark, SF_SMOKE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final or "WholeStageCodegen" in final, (
        f"no whole-stage codegen spans: {final[:2000]}"
    )


def test_scaling_tables_not_broadcast(spark):
    """orders/customer grow with SF — at 100 TB they must never be
    broadcast. The plan builders must not carry explicit broadcast hints on
    them (AQE may still choose broadcast at tiny SF, which is fine — the
    hint is what would break at scale). We check the OPTIMIZED logical
    plan for ResolvedHint only below scaling-table scans."""
    import re

    from slr207_mapreduce_spark.plans import relational, tpch

    import inspect

    for mod in (tpch, relational):
        src = inspect.getsource(mod)
        for m in re.finditer(r"F\.broadcast\((\w+)\)", src):
            var = m.group(1)
            assert var not in ("o", "l", "c"), (
                f"{mod.__name__} broadcasts scaling table variable '{var}'"
            )


def test_join_strategy_hints_are_honored(spark):
    """hint('shuffle_hash') / hint('merge') / broadcast() select the
    corresponding physical join — the explicit strategy-override surface
    for when AQE's choice is wrong for a known workload."""
    from slr207_mapreduce_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    o = load_table(spark, "orders", SF_SMOKE)
    li = load_table(spark, "lineitem", SF_SMOKE)

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    sh = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in plan(sh)
    sm = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in plan(sm)
    bc = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
    assert "BroadcastHashJoin" in plan(bc)


def test_cdc_compaction_is_partial_aggregate_not_window(spark):
    """cdc_latest_state must compact the changelog with max_by PARTIAL
    aggregation: each scan partition collapses to one row per key before
    the exchange, so the shuffle carries |keys| rows. The row_number
    formulation (what the oracle uses) would shuffle the FULL changelog
    and window-sort it — no Window operator may appear, and exactly one
    exchange."""
    df = _specs()["cdc_latest_state"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert "partial_max_by" in plan
    assert "Window" not in plan
    # formatted mode prints each operator twice (tree + detail section)
    assert plan.count("hashpartitioning") == 1


def test_incremental_merge_prunes_both_period_scans(spark):
    """warehouse_incremental_agg_merge: snapshot and delta scans must each
    push their ts predicate into the parquet scan (partition pruning at
    scale), and the merge join runs over aggregated keys, not raw events."""
    df = _specs()["warehouse_incremental_agg_merge"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("PushedFilters: [IsNotNull(ts)") >= 2 or plan.count("ts") >= 2
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_plans_md_matches_plans(spark):
    """PLANS.md's table must equal a fresh plan-only audit of the same
    queries at sf0.1, so any change to an audited plan (not to source text)
    fails here. Fix = `python tools/plan_audit.py --write`."""
    import os

    from tests.conftest import SF_CORRECT
    from tools.plan_audit import REPO, audit_rows

    with open(os.path.join(REPO, "PLANS.md")) as f:
        committed = [
            line
            for line in f.read().splitlines()
            if line.startswith("| ") and not line.startswith("| query |")
        ]
    sf01 = os.path.join(os.path.dirname(SF_CORRECT), "sf0.1")
    assert audit_rows(spark, sf01) == committed


# Query-name prefix -> the plan module of its family (``q<N>_`` is TPC-H).
_FAMILY_MODULES = {
    "q<N>": "tpch",
    "wordcount": "parity",
    "agg": "aggregates",
    "stats": "aggregates",
    "stat": "aggregates",
    "estimator": "aggregates",
    "window": "windows",
    "join": "relational",
    "setop": "relational",
    "subq": "relational",
    "pivot": "relational",
    "unpivot": "relational",
    "asof": "relational",
    "scalar": "scalars",
    "udf": "scalars",
    "udtf": "scalars",
    "events": "events",
    "cdc": "warehouse",
    "scd2": "warehouse",
    "warehouse": "warehouse",
    "text": "text",
    "dedup": "dedup",
    "semdedup": "dedup",
    "knn": "ann",
    "embedding": "ann",
    "retrieval": "ann",
    "graph": "graph",
    "pipeline": "pipeline",
    "multimodal": "multimodal",
}


def test_query_lives_in_its_family_module():
    """plans/ is grouped by operator family: every registered query is built
    in the module its name prefix maps to, and the package holds only those
    modules plus the registry plumbing."""
    import pkgutil
    import re

    from slr207_mapreduce_spark import plans
    from slr207_mapreduce_spark.plans.base import all_queries

    misplaced = {}
    for name, spec in all_queries().items():
        prefix = "q<N>" if re.match(r"q\d+_", name) else name.split("_")[0]
        want = f"slr207_mapreduce_spark.plans.{_FAMILY_MODULES.get(prefix)}"
        if spec.build.__module__ != want:
            misplaced[name] = spec.build.__module__
    assert not misplaced, misplaced
    modules = {m.name for m in pkgutil.iter_modules(plans.__path__)}
    assert modules == set(_FAMILY_MODULES.values()) | {"base"}


def test_registry_import_raises_no_user_warning():
    """Importing the registry warns nothing, and the row-at-a-time encode
    UDF keeps its eval type. A fresh interpreter, because the registry is
    imported once per process."""
    code = (
        "from pyspark.util import PythonEvalType\n"
        "from slr207_mapreduce_spark.plans.base import all_queries\n"
        "from slr207_mapreduce_spark.plans.scalars import _encode_udf\n"
        "all_queries()\n"
        "assert _encode_udf.evalType == PythonEvalType.SQL_BATCHED_UDF\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c", code],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
