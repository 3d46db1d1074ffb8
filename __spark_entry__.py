"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The gates live in the workloads modules listed in
``database_collector_spark.gates``; this file is the thin driver-facing
shim over that registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from database_collector_spark import gates, workloads


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return workloads.q_pricing_summary(spark, "/root/testdata/sf0.001")


def _registered(entries: dict) -> dict:
    """The registered gates of ``entries``, the check window first."""
    registered = {k: v for k, v in entries.items() if k not in gates.STAGED}
    head = {k: registered[k] for k in gates.check_window()}
    return {**head, **registered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered gate."""
    return _registered(gates.all_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each ``queries()`` entry."""
    return _registered(gates.all_oracles())
