"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the ``shadems_spark`` package (same repo);
each SURVEY.md §2 Qname registers a (builder, oracle SQL) pair in
``shadems_spark.queries.REGISTRY``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shadems_spark.queries import load_registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    SURVEY.md §7 minimum end-to-end slice: lineitem scan -> visibility
    view (derived complex columns) -> batched min/max bounds job ->
    256x256 binned count raster, binned on the CLI's grid path -> the
    binned table (by, bx, val), unordered.
    """
    from shadems_spark.queries.core import flagship

    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _sql) in load_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query that has a clean ANSI
    form; rows-only ops (LSH, pandas UDFs, session windows) omitted."""
    return {name: sql for name, (_fn, sql) in load_registry().items() if sql is not None}
