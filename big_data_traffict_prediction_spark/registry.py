"""Query registry: name → (Spark callable, optional DuckDB oracle SQL).

Every operator module registers its queries here; ``__spark_entry__``
just re-exports. A query is named after its function. A query with
``oracle=None`` is deliberately non-SQL-expressible
(streaming/state/ML) and gets the driver's weaker rows-only check.

Query order is fixed here, not by import side effects: queries follow
the position of their module in ``_MODULES``, then registration order
within the module.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None


_REGISTRY: dict[str, Query] = {}

# Every module that registers queries, in query order.
_MODULES = tuple(
    f"{__package__}.{m}"
    for m in (
        "operators.aggregates",
        "operators.analytics",
        "operators.geo",
        "operators.graph",
        "operators.iou",
        "operators.joins",
        "operators.pipeline",
        "operators.prediction",
        "operators.reshape",
        "operators.scans",
        "operators.timeseries",
        "operators.tpch",
        "operators.tsdb",
        "operators.windows",
        "functions.bpe",
        "functions.curation",
        "functions.dedup",
        "functions.multimodal",
        "functions.pretrain",
        "functions.scrub",
        "functions.similarity",
        "functions.text",
        "ml.forecast",
        "streaming.queries",
    )
)


def register(*, oracle: str | None):
    """Decorator: register a (spark, sf_dir) -> DataFrame query under
    its function's name."""

    def deco(fn: QueryFn) -> QueryFn:
        if fn.__name__ in _REGISTRY:
            raise ValueError(f"duplicate query name {fn.__name__!r}")
        _REGISTRY[fn.__name__] = Query(fn=fn, oracle=oracle)
        return fn

    return deco


def _ordered() -> list[tuple[str, Query]]:
    _load_modules()
    return sorted(_REGISTRY.items(), key=lambda kv: _MODULES.index(kv[1].fn.__module__))


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in query order."""
    return {name: q.fn for name, q in _ordered()}


def all_oracles() -> dict[str, str]:
    """Oracle SQL of every query that has one, in query order."""
    return {name: q.oracle for name, q in _ordered() if q.oracle is not None}


def get(name: str) -> Query:
    _load_modules()
    return _REGISTRY[name]


_LOADED = False


def _load_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    for m in _MODULES:
        importlib.import_module(m)
    _LOADED = True
