"""Query registry — the engine's public query surface.

Every capability from SURVEY.md §2/§2b registers here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are SQL-expressible, a DuckDB oracle SQL string over the same
parquet fixture tables.  ``__spark_entry__.py`` re-exports this registry
to the driver, and tests/test_oracle_queries.py cross-checks every pair
the same way the driver does (row count + schema + order-insensitive
values).  Iteration order is registration order: the import order in
``_ensure_loaded``, then declaration order within each module.

Conventions (driver contract):
* every computed column is aliased identically in Spark and SQL;
* float aggregates are ``round(x, 2)`` on BOTH sides so summation-order
  differences below 1e-5 cannot flip the value hash;
* KNOWN residual class (r8, observed once at sf0.001): Spark's round()
  rounds a double's shortest decimal-string repr (BigDecimal.valueOf)
  while DuckDB rounds the binary value, so an aggregate landing on an
  exact ``.xx5`` boundary can round apart even with identical inputs.
  Where money-like data makes that boundary likely (averages of
  2-decimal values), quantize at 6 decimals first on BOTH sides —
  ``F.round(x, 6)`` / ``CAST(x AS DECIMAL(28,6))`` — before the
  2-decimal round (see join_broadcast_dims);
* DuckDB integer sums are cast to BIGINT (DuckDB widens to HUGEINT,
  Spark stays long);
* timestamps that reach an output are formatted to ``yyyy-MM-dd HH:mm:ss``
  strings on both sides to erase precision/timezone representation drift.
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
    oracle: str | None  # None => driver falls back to rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn
    return deco


def all_specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from .queries import (  # noqa: F401
        textanalysis, windows, udf_surface, subqueries, graph,
        analytics, core, curation, dedup, functions_surface, joins,
        profiling, relational, similarity, streaming_batch,
    )
    _LOADED = True
