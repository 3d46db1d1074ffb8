from __future__ import annotations

import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from database_collector_spark import gates
from database_collector_spark.session import get_spark

# the smallest driver-generated fixture tables (TESTDATA.md)
SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "check", os.path.join(ROOT, "tools", "check.py")
)
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def gate_plan(spark):
    """``gate_plan(name, df=None)`` -> the executed-plan text of a
    registry gate. A gate is planned at most once per session: the
    differential (test_gates.py) passes the DataFrame it collects, and
    the plan sweeps read the recorded text back."""
    plans: dict[str, str] = {}

    def plan(name: str, df=None) -> str:
        if df is not None or name not in plans:
            if df is None:
                df = gates.all_queries()[name](spark, SF)
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return plans[name]

    return plan


def assert_no_row_python_or_cartesian(name: str, plan: str) -> None:
    # Arrow-batched Python (MapInPandas, FlatMapGroupsInPandas) is the
    # sanctioned slow path; row-at-a-time Python and unbroadcast
    # cartesian products are not.
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"


@pytest.fixture(scope="session")
def oracle_con():
    """A DuckDB connection with a view per fixture table at ``SF``."""
    import duckdb

    c = duckdb.connect()
    for t in check.TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield c
    c.close()
