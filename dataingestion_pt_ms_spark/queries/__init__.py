"""Named-query registry backing ``__spark_entry__``.

Every operator from SURVEY.md §2.B is exposed as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent DuckDB oracle SQL string. The driver compares
row count + schema + order-insensitive value hash at sf0.01.

Conventions that make the differential comparison well-defined:
- every computed column is aliased identically in Spark and SQL;
- double aggregates are ``round()``-ed (2 dp for money sums, 4-6 dp for
  ratios/avgs) so floating summation order can't flip the hash;
- timestamps in output are formatted to strings (DuckDB reads the ns
  ``events.ts`` truncated to µs exactly like Spark, but string output removes
  any dtype ambiguity in the comparison layer);
- top-k queries order by the *rounded* measure plus a unique key so the
  k-boundary is deterministic in both engines.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None => rows-only check


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(name: str, oracle: str | None = None):
    """Decorator: register ``fn`` as the named query ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        aggregates,
        curation,
        drift,
        functions2,
        graph_analytics,
        joins,
        llm_dedup,
        llm_quality,
        llm_similarity,
        llm_text,
        mlprep,
        recommend,
        relational,
        relational2,
        relational3,
        scalars,
        setops,
        sketches,
        timeseries,
        udfs,
        warehouse,
        windows,
    )

    _LOADED = True


def registry() -> dict[str, QuerySpec]:
    """Every registered query, in registration order."""
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in registry().items()
        if spec.oracle is not None
    }
