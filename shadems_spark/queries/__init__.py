"""Declared-query registry — the correctness contract surface.

Every operator row in SURVEY.md §2 with a Qname registers here as a
(PySpark builder, DuckDB oracle SQL) pair; ``__spark_entry__``
re-exports the registry to the driver.  Builders take
``(spark, sf_dir)`` and return a DataFrame; oracle SQL runs on the
driver's pre-registered DuckDB views of the same parquet files.

Conventions (FIXTURES.md "harness conventions"):
- every computed column aliased identically on both sides;
- float aggregates rounded on both sides (2dp for price-magnitude
  sums/avgs, more for unit-magnitude values) so order-insensitive
  value hashes are stable under different summation orders;
- per-row float math restricted to IEEE-exact ops (+,-,*,/,sqrt) or
  rounded when libm-dependent (atan2, log);
- timestamps never emitted raw: cast to DATE / epoch integers /
  formatted strings (events.ts is ns-parquet — truncated to µs on
  both engines, see catalog.load_table).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (builder, oracle_sql | None)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

#: modules that define queries, imported by load_registry(); their order
#: is the registry's, so a module imports only from modules before it.
_MODULES = [
    "shadems_spark.queries.core",
    "shadems_spark.queries.projections",
    "shadems_spark.queries.selection",
    "shadems_spark.queries.shapes",
    "shadems_spark.queries.joins",
    "shadems_spark.queries.aggregates",
    "shadems_spark.queries.windows",
    "shadems_spark.queries.scalars",
    "shadems_spark.queries.analytics",
    "shadems_spark.queries.streaming",
    "shadems_spark.queries.llm_ops",
    "shadems_spark.queries.skewq",
    "shadems_spark.queries.incremental",
    "shadems_spark.queries.curation",
    "shadems_spark.queries.retrieval",
]


def register(name: str, sql: str | None = None):
    """Decorator: add a query builder (and its oracle) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load_registry() -> dict[str, tuple[QueryFn, str | None]]:
    """Import every family module; return the registry in registration
    order (``_MODULES`` order, definition order within a module).  The
    driver checks a prefix of this order against DuckDB."""
    for mod in _MODULES:
        importlib.import_module(mod)
    return dict(REGISTRY)
