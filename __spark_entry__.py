"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the
``financial_transaction_data_warehouse_interactive_dashboard_spark`` package;
this file only adapts its registry to the driver's API.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from financial_transaction_data_warehouse_interactive_dashboard_spark.plans import (  # noqa: E402
    queries as _q,
)
from financial_transaction_data_warehouse_interactive_dashboard_spark.plans.rotation import (  # noqa: E402
    driver_surface,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 shape: 2-predicate filter -> group count -> top-k)
    on /root/testdata/sf0.001; driver checks rows>0."""
    return _q.REGISTRY["q1_top_segments"].spark(spark, "/root/testdata/sf0.001")


def _surface() -> list[_q.NamedQuery]:
    """The registry entries whose driver evidence is missing or oldest,
    ranked against the CORRECTNESS_r*.json files committed next to this
    file."""
    return [_q.REGISTRY[n] for n in driver_surface(_q.REGISTRY, _HERE)]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver surface: SURFACE_SIZE registry entries."""
    return {q.name: q.spark for q in _surface()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted for
    non-SQL-expressible ops -> driver records a rows-only check)."""
    return {q.name: q.oracle for q in _surface() if q.oracle is not None}
