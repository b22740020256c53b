"""Central query registry — single source of truth for the driver contract.

Every operator key from SURVEY.md §2 registers here with:
  - a Spark callable ``(SparkSession, sf_dir) -> DataFrame``
  - an optional DuckDB oracle SQL string (``None`` → driver runs the
    weaker rows-only check; used for non-deterministic / non-SQL ops).

``__spark_entry__.py`` re-exports this registry as ``queries()`` /
``oracle_sql()``; tests/test_oracle_parity.py runs the same comparison
the driver does (row count + schema + order-insensitive value hash).

Column-name discipline: every computed column is aliased identically in
the Spark callable and the oracle SQL — the driver sorts columns by name
before hashing.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


#: name -> QuerySpec. Populated by the @query decorator at module import.
QUERIES: dict[str, QuerySpec] = {}

#: Modules that define queries; imported lazily by load_all_queries().
_QUERY_MODULES = [
    "okera_trino_spark.operators.scan",
    "okera_trino_spark.operators.joins",
    "okera_trino_spark.operators.aggregates",
    "okera_trino_spark.operators.windows",
    "okera_trino_spark.operators.sorts_sets",
    "okera_trino_spark.operators.subqueries",
    "okera_trino_spark.operators.scalar_fns",
    "okera_trino_spark.operators.nested",
    "okera_trino_spark.operators.analytics",
    "okera_trino_spark.operators.analytics_ext",
    "okera_trino_spark.operators.tpch_full",
    "okera_trino_spark.operators.extras",
    "okera_trino_spark.operators.asof",
    "okera_trino_spark.operators.skew",
    "okera_trino_spark.operators.views_udfs",
    "okera_trino_spark.operators.pattern",
    "okera_trino_spark.streaming.windows",
    "okera_trino_spark.llm.dedup",
    "okera_trino_spark.llm.clusters",
    "okera_trino_spark.llm.contamination",
    "okera_trino_spark.llm.similarity",
    "okera_trino_spark.llm.text",
    "okera_trino_spark.llm.multimodal",
    "okera_trino_spark.functions.trino_sql",
    "okera_trino_spark.functions.trino_tpch",
]


def query(name: str, oracle: str | None = None,
          tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation under a SURVEY.md §2 key."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                  tags=tuple(tags), doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def load_all_queries() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return a copy of the
    registry, keyed in registration order."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(QUERIES)
