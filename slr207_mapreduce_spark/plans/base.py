"""Query registry plumbing.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the equivalent
ANSI SQL a DuckDB oracle can run over the same parquet tables (driver
contract, __spark_entry__.py). Specs whose semantics are not SQL-expressible
(streaming state, iterative algorithms) set ``oracle=None`` and get a
rows-only check.

Column-name contract: the driver sorts columns by NAME before value-hashing,
so the Spark builder and the oracle SQL must alias every computed column
identically — enforced by tests/test_oracle.py which runs both sides and
compares values exactly.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL over views region..embeddings, or None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}

# Plan-only enumeration mode (r14 VERDICT item 7, carried from r13
# finding 3): the *_materialized queries RUN their staging write at
# plan-BUILD time — write-once semantics is their whole point — which
# made every registry enumerator (tools/plan_audit.py, test_plan_sweep,
# bench warm-up sweeps) pay store builds it never queries. Under
# :func:`plan_only`, those builders return their from-raw twin plan
# instead (semantically the identity — the materialized queries share
# their twin's oracle SQL precisely because the store changes WHERE
# cost is paid, not WHAT is computed) and touch no store. The twin is
# chosen over plan-over-store-if-present because it is DETERMINISTIC:
# a fresh clone has no .sfgen stores, so an environment-dependent
# branch would make plan fingerprints differ between checkouts.
_PLAN_ONLY: list[bool] = [False]


def plan_only_mode() -> bool:
    """True inside a :func:`plan_only` block — materializing builders
    must return their from-raw twin plan and perform no store writes."""
    return _PLAN_ONLY[-1]


class plan_only:
    """Context manager: enumerate registry plans without side effects."""

    def __enter__(self):
        _PLAN_ONLY.append(True)
        return self

    def __exit__(self, *exc):
        _PLAN_ONLY.pop()
        return False


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register a Spark builder under ``name`` with its oracle."""

    def wrap(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, build=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


# The driver's correctness comparator samples the FIRST 50 entries of
# queries() each round.  Rotation history: r01-r03 one fixed slice,
# r04/r05 a second slice, r06 rotated 45 never-adjudicated names, r07 the
# agg/events/udf/warehouse rotation, r08 the adjudication endgame (each
# 50/50 green; cumulative 230/251 after r08 per VERDICT r08).
#
# Round 16 (this list): the seventh FRESHNESS rotation, with one r16
# policy extension. Base policy, pinned by
# tests/test_oracle.py::test_driver_sample_rotation: the non-sentinel
# slots are the stalest registry names under the deterministic order
# (last-adjudicated round, name) with never-adjudicated names treated as
# round 0 — so min(last-adjudicated round) over the registry rises every
# round and staleness can never silently accumulate.
#
# r16 extension (r15 VERDICT item 3): a query whose IMPLEMENTATION was
# rewritten by an optimization round must be re-adjudicated by the driver
# before its rewrite is called settled, even if it is "fresh" by the
# staleness order (r15 rewrote five queries that had just rotated out of
# the window). REWRITTEN_PRIORITY_NAMES therefore takes the slots right
# after the sentinels, and the stalest order fills the remainder — both
# tiers deterministic, both pinned by the rotation test.
#
# WINDOW_ROUND declares which round this window serves; the rotation test
# computes the expected window from artifacts of rounds < WINDOW_ROUND, so
# the driver landing CORRECTNESS_r{WINDOW_ROUND}.json after the final
# commit does not redden a finished tree (r10 VERDICT item 1).
WINDOW_ROUND: int = 16

# Queries whose WIRED implementation changed in the r15/r16 optimization
# rounds after their last driver adjudication (r15: SQL conversions + the
# CDC/LSH structural rewrites, per r15 VERDICT item 3; r16: the
# order-independent CASE/IF forms in the CDC chunk count and the LSH
# first-match filter, the LSH dial's metadata row count, and the
# metadata doc-count probe in dedup_ngram_jaccard's auto plan selector).
# Each is oracle-verified locally at sf0.01 AND sf0.1 (tools/check.py,
# exact values); this list routes them through the driver's own hash gate
# as well. Drained (reset to empty) once adjudicated. The minhash
# consumers keep their adjudicated implementation: the r16 Arrow MinHash
# kernel lost its A/B and was deleted (OPTIMIZATION_r16.md §1; recoverable
# from commit d623161).
REWRITTEN_PRIORITY_NAMES: tuple[str, ...] = (
    "dedup_cdc_chunks",
    "knn_lsh_bucketed",
    "text_term_stats",
    "q10_returned_items",
    "window_rank_topn_per_group",
    "dedup_ngram_jaccard",
    # r16 batch 2 (this round's events rewrites, oracle-verified at
    # sf0.01+sf0.1 exact values and edge-pinned by
    # tests/test_events_rewrites_r16.py):
    "events_funnel_stages",  # window-chain -> single-exchange aggregation
    "events_gap_filled_hours",  # two scans + join -> one scan, lead spine
)
#
# Registry-growth policy (r07 VERDICT item 5): any query registered after
# the r07 snapshot (tests/data/registry_r07.txt) must appear in
# DRIVER_SAMPLE_FIRST for the round it lands in, or be listed here with a
# reason — tests/test_oracle.py::test_registry_growth_joins_driver_window
# enforces it.  Keep this empty unless a new query genuinely must wait a
# round (e.g. the window is already full of higher-priority backlog).
DEFERRED_NEW_NAMES: tuple[str, ...] = ()

# The r16 window's stalest fill reaches the r10 adjudication remainder,
# which holds two rows-only approx estimators (their error bounds are
# separately hash-certified by estimator_error_report, fully oracled) —
# the rotation test pins exactly these two.
ROWS_ONLY_WINDOW_NAMES: tuple[str, ...] = (
    "agg_approx_count_distinct",
    "agg_hll_mergeable_sketches",
)

DRIVER_SAMPLE_FIRST: tuple[str, ...] = (
    # sentinels (driver-green in r01-r15)
    "wordcount_topk",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "join_salted",
    "events_sessionization",
    # --- rewritten-priority tier (REWRITTEN_PRIORITY_NAMES, see above) ---
    "dedup_cdc_chunks",
    "knn_lsh_bucketed",
    "text_term_stats",
    "q10_returned_items",
    "window_rank_topn_per_group",
    "dedup_ngram_jaccard",
    "events_funnel_stages",
    "events_gap_filled_hours",
    # --- stalest remainder (tools/rotation.py over CORRECTNESS_r01..r15):
    # the r09 text/warehouse tail, then the r10 agg/join/scalar/setop/
    # window block, in (round, name) order ---
    "text_bpe_train_merges",
    "text_trigram_novelty",
    "warehouse_incremental_agg_merge",
    "agg_approx_count_distinct",
    "agg_basic_stats",
    "agg_collect_sorted",
    "agg_count_distinct",
    "agg_cube",
    "agg_exact_moments",
    "agg_group_by_all",
    "agg_grouping_sets",
    "agg_having",
    "agg_hll_mergeable_sketches",
    "agg_rollup",
    "asof_purchase_last_view",
    "join_cross",
    "join_full_outer",
    "join_inner",
    "join_left_anti",
    "join_left_outer",
    "join_left_semi",
    "join_null_safe",
    "join_range_nonequi",
    "join_right_outer",
    "knn_recall_report",
    "scalar_date_funcs",
    "scalar_regexp_split",
    "scalar_string_funcs",
    "setop_distinct",
    "setop_except",
    "setop_except_all",
    "setop_intersect",
    "setop_intersect_all",
    "setop_union_all",
    "setop_union_by_name",
    "setop_union_distinct",
    "window_first_last_nth",
)


def all_queries() -> dict[str, QuerySpec]:
    """Import every plan module (side-effect: registration) and return the
    full registry, reordered so the driver's 50-entry sample window covers
    :data:`DRIVER_SAMPLE_FIRST` before the registration-order remainder."""
    # Imports are deferred so plan modules can use the registry decorator
    # without circular imports.
    import importlib
    import pkgutil

    from slr207_mapreduce_spark import plans

    for mod in pkgutil.iter_modules(plans.__path__):
        if mod.name != "base":
            importlib.import_module(f"{plans.__name__}.{mod.name}")

    ordered: dict[str, QuerySpec] = {}
    for name in DRIVER_SAMPLE_FIRST:
        ordered[name] = REGISTRY[name]  # KeyError = stale rotation list
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
