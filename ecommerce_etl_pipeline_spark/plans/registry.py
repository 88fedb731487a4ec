"""Named-query registry: the engine's public query surface.

Every operator row from SURVEY.md §2 is exposed as a named query over the
driver testdata, optionally paired with the exact ANSI-SQL oracle that DuckDB
runs for the correctness gate. ``__spark_entry__.py`` is a thin adapter over
this registry.

Oracle-parity rules (SURVEY.md §7 risk register):
- alias every computed column identically in Spark and SQL;
- keep integer widths aligned (DuckDB SUM(int) is HUGEINT — always CAST);
- ROUND floating aggregates on BOTH sides (FP summation order differs);
- deterministic top-k only (explicit tiebreakers before any LIMIT);
- no ``current_date()``/``rand()`` in oracle-checked queries — pinned
  ``as_of`` literals, seeded sampling is rows-only-checked.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver records a weaker rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle is not None}


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]
