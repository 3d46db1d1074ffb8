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


def assert_oracles_portable(con, oracles: dict[str, str]) -> None:
    """Every oracle's final columns pass the shared Arrow-portability
    predicate (tools/check.py::unportable_type), checked with LIMIT 0."""
    for name, sql in oracles.items():
        rel = con.sql(f"SELECT * FROM ({sql}) q LIMIT 0")
        for col, typ in zip(rel.columns, map(str, rel.types)):
            reason = check.unportable_type(typ)
            assert reason is None, f"{name}.{col}: {reason}"


def assert_module_registered(module) -> None:
    """Every gate of a workloads module outside ``STAGED`` reaches the
    driver with the module's own callable and SQL."""
    import __spark_entry__ as entrymod

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    for name in module.QUERIES:
        if name in gates.STAGED:
            assert name not in qs and name not in os_, name
            continue
        assert qs[name] is module.QUERIES[name], name
        assert os_[name] == module.ORACLES[name], name


def assert_registration_composes(module, gate_plan) -> None:
    """Registering a staged gate is removing its name from ``STAGED``:
    the registry must already hold the module's gates 1:1 with their
    oracles, and every gate must plan."""
    queries, oracles = gates.all_queries(), gates.all_oracles()
    assert set(queries) == set(oracles)
    for name in module.QUERIES:
        assert queries[name] is module.QUERIES[name], name
        assert oracles[name] == module.ORACLES[name], name
        assert gate_plan(name), name


def assert_module_documented(module, cohort: str) -> None:
    """Every gate of a registered cohort carries a driver CORRECTNESS row
    from some past round or sits in the check window, and has a
    COVERAGE.md row; the ``REGISTERED <cohort>`` rows are 1:1 with it."""
    seen, window = gates.newest_driver_rows(), gates.check_window()
    with open(os.path.join(ROOT, "COVERAGE.md")) as fh:
        cov = fh.read()
    for name in module.QUERIES:
        assert name in seen or name in window, (
            f"{name}: no driver row and not in the current window"
        )
        assert f"`{name}`" in cov, f"{name} missing a COVERAGE row"
    assert cov.count(f"REGISTERED {cohort}") == len(module.QUERIES), (
        f"REGISTERED {cohort} COVERAGE rows must be 1:1 with the {cohort} cohort"
    )
