"""Named-query registry.

This is the engine's analog of the reference's job router
(/root/reference/app_route.py:4-6): a name → callable map, except the
callables build Catalyst logical plans instead of shipping Python
map/reduce closures to workers. Each entry optionally carries an ANSI-SQL
oracle string (DuckDB-runnable) used by the driver's differential
correctness gate (SURVEY.md §5.1).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB-runnable ANSI SQL; every registered
    #                             query has one (tests/test_correctness.py)
    tags: tuple[str, ...] = field(default_factory=tuple)
    gate: bool = True  # False → registered (tests, bench-able, plan-asserted)
    #                    but outside the driver's 50-row correctness window;
    #                    tests/test_correctness.py oracle-checks these too


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None,
             tags: tuple[str, ...] = (),
             gate: bool = True) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags,
                                gate=gate)
        return fn

    return deco


def _ensure_loaded() -> None:
    # importing the package registers every declared query
    import myhadoop_spark.queries  # noqa: F401


def get(name: str) -> Query:
    _ensure_loaded()
    return _REGISTRY[name]


def all_queries(include_ungated: bool = False) -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: q.fn for n, q in sorted(_REGISTRY.items())
            if q.gate or include_ungated}


def all_oracles(include_ungated: bool = False) -> dict[str, str]:
    _ensure_loaded()
    return {n: q.oracle for n, q in sorted(_REGISTRY.items())
            if q.oracle is not None and (q.gate or include_ungated)}


def ungated() -> list[str]:
    """Queries outside the driver gate window (still tested in pytest)."""
    _ensure_loaded()
    return sorted(n for n, q in _REGISTRY.items() if not q.gate)


def names() -> list[str]:
    _ensure_loaded()
    return sorted(_REGISTRY)
