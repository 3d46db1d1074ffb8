"""The workloads_r9 cohort: its registry bookkeeping. Every gate's
differential against its DuckDB twin and its plan check for
row-at-a-time Python and cartesian products run in test_gates.py.
"""

from __future__ import annotations

from conftest import (
    assert_module_documented,
    assert_module_registered,
    assert_oracles_portable,
    assert_registration_composes,
)
from database_collector_spark import workloads_r9


def test_staged_sets_are_one_to_one():
    assert set(workloads_r9.QUERIES) == set(workloads_r9.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r9.ORACLES)


def test_every_staged_gate_is_documented_in_coverage():
    assert_module_documented(workloads_r9, "r9")


def test_r9_cohort_is_fully_registered():
    assert_module_registered(workloads_r9)


def test_r9_registration_dry_run_composes(gate_plan):
    assert_registration_composes(workloads_r9, gate_plan)
