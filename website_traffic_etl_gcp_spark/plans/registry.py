"""Query registry — the single source of truth for SURVEY.md §2.

Every implemented operator registers a :class:`QuerySpec` here; the
driver contract (``__spark_entry__``) and the pytest oracle harness
iterate this dict, so a query cannot be "done" without being checked.
``perfbench/run.py`` is the benchmark; it pins its own query mix by
name from this dict.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[Builder], Builder]:
    def wrap(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tags,
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return wrap


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }
