"""The workloads_r15 cohort: its plan sweep and the agreement_alpha
missing-vote pin. Every gate's differential against its DuckDB twin and
its plan check for row-at-a-time Python and cartesian products run in
test_gates.py.
"""

from __future__ import annotations

from conftest import (
    SF,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
)
from database_collector_spark import workloads_r15


def test_staged_sets_are_one_to_one():
    assert set(workloads_r15.QUERIES) == set(workloads_r15.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r15.ORACLES)


def test_staged_plans_have_no_python_udfs_or_cartesians(gate_plan):
    for name in workloads_r15.QUERIES:
        assert_no_row_python_or_cartesian(name, gate_plan(name))


def test_agreement_alpha_panel_really_is_uneven(spark):
    """The gate exists to exercise MISSING votes — if a fixture change
    ever made every document fully voted, the gate would silently
    degenerate into fleiss territory; pin genuine unevenness."""
    docs_votes = (
        workloads_r15.q_agreement_alpha(spark, SF).collect()
    )
    # n_values < 3 * n_items would be impossible under a full panel
    [r] = docs_votes
    assert r["n_values"] < 3 * r["n_items"], (
        "every item fully voted — the missing-vote scenario is gone"
    )
