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


def all_queries() -> dict[str, QuerySpec]:
    """Import every plan module (side-effect: registration) and return the
    full registry in registration order: ``pkgutil`` lists the modules
    sorted by name, and each module registers its queries top to bottom."""
    # Imports are deferred so plan modules can use the registry decorator
    # without circular imports.
    import importlib
    import pkgutil

    from slr207_mapreduce_spark import plans

    for mod in pkgutil.iter_modules(plans.__path__):
        if mod.name != "base":
            importlib.import_module(f"{plans.__name__}.{mod.name}")
    return dict(REGISTRY)
