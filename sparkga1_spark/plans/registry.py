"""Named-query registry backing the driver contract (__spark_entry__.py).

Each operator family from SURVEY.md §2 registers one or more named
queries; SQL-expressible ones also register a DuckDB oracle string
(the correctness gate). Registration keeps the Spark plan and its
oracle adjacent in source so they cannot drift silently.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; `oracle` is the equivalent DuckDB SQL
    (omit only for genuinely non-SQL-expressible operators — the driver
    then records a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        _QUERIES[name] = fn
        if oracle is not None:
            # round() is not portable across engines near .xx5 boundaries
            # (see functions/numeric.py) — rewrite to the exact floor form
            from sparkga1_spark.functions.numeric import rewrite_round_sql

            _ORACLES[name] = rewrite_round_sql(oracle)
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import side-effect modules that register queries.
    from sparkga1_spark.plans import queries as _q  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _ensure_loaded()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    """Every registered oracle, in registration order."""
    _ensure_loaded()
    return dict(_ORACLES)


def get(name: str) -> tuple[QueryFn, str | None]:
    _ensure_loaded()
    return _QUERIES[name], _ORACLES.get(name)
