"""Query registry: name → (Spark callable, optional DuckDB oracle SQL).

Every operator module registers its queries here; ``__spark_entry__``
just re-exports. A query with ``oracle=None`` is deliberately
non-SQL-expressible (streaming/state/ML) and gets the driver's weaker
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _load_modules()
    return {q.name: q.fn for q in _REGISTRY.values()}


def all_oracles() -> dict[str, str]:
    """Oracle SQL of every query that has one, in registration order."""
    _load_modules()
    return {q.name: q.oracle for q in _REGISTRY.values() if q.oracle is not None}


def get(name: str) -> Query:
    _load_modules()
    return _REGISTRY[name]


_LOADED = False


def _load_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        geo,
        graph,
        iou,
        joins,
        pipeline,
        prediction,
        reshape,
        scans,
        timeseries,
        tpch,
        tsdb,
        windows,
    )
    from .functions import (  # noqa: F401
        bpe,
        curation,
        dedup,
        multimodal,
        pretrain,
        scrub,
        similarity,
        text,
    )
    from .ml import forecast  # noqa: F401
    from .streaming import queries  # noqa: F401

    _LOADED = True
