"""The workloads_r16 cohort: its plan sweep and the embedding-drift / Zipf-
slope result pins. Every gate's differential against its DuckDB twin and
its plan check for row-at-a-time Python and cartesian products run in
test_gates.py.
"""

from __future__ import annotations

from conftest import (
    SF,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
)
from database_collector_spark import workloads_r16


def test_staged_sets_are_one_to_one():
    assert set(workloads_r16.QUERIES) == set(workloads_r16.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r16.ORACLES)


def test_staged_plans_have_no_python_udfs_or_cartesians(gate_plan):
    for name in workloads_r16.QUERIES:
        assert_no_row_python_or_cartesian(name, gate_plan(name))


def test_embedding_drift_halves_really_differ(spark):
    """The gate exists to measure MOVEMENT — if a fixture change ever
    made the parity halves identical, every centroid_l2 would be 0 and
    the gate would pin nothing; require at least one label to drift."""
    rows = workloads_r16.q_embedding_drift(spark, SF).collect()
    assert any(r["centroid_l2"] > 0 for r in rows), (
        "all parity-half centroids coincide — the drift scenario is gone"
    )


def test_zipf_head_fit_slopes_are_negative_at_fixture_scale(spark):
    """Counts in the head strictly decrease with rank by construction,
    so every language's fitted slope must be negative (a zero/positive
    slope would mean a degenerate all-equal head — worth noticing)."""
    rows = workloads_r16.q_zipf_head_fit(spark, SF).collect()
    assert rows and all(
        r["slope"] is None or r["slope"] < 0 for r in rows
    )
    assert any(r["slope"] is not None for r in rows)
