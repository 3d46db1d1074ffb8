"""The workloads_r17 cohort: its plan sweep and the table-expectation pins
(one-scan profile, compressed-key FK join, uniqueness verdicts). Every
gate's differential against its DuckDB twin and its plan check for
row-at-a-time Python and cartesian products run in test_gates.py.
"""

from __future__ import annotations

from conftest import (
    SF,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
)
from database_collector_spark import workloads_r17


def test_staged_sets_are_one_to_one():
    assert set(workloads_r17.QUERIES) == set(workloads_r17.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r17.ORACLES)


def test_staged_plans_have_no_python_udfs_or_cartesians(gate_plan):
    for name in workloads_r17.QUERIES:
        assert_no_row_python_or_cartesian(name, gate_plan(name))


def test_table_profile_is_one_scan_one_expand(spark):
    """The profile's 100 TB contract: EVERY column's count/distinct
    rides ONE pass — one scan of orders, the multi-distinct Expand, and
    no per-column re-aggregation chain (adding a column must never add
    a pass)."""
    plan = (
        workloads_r17.q_table_profile(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") + plan.count("FileScan") >= 1
    # exactly one scan: a per-column loop would show one per column
    assert plan.count("orders.parquet") == 1, plan[:2000]
    assert "Expand" in plan


def test_fk_orphan_report_joins_compressed_keys_not_fact_rows(spark):
    """The anti join must consume the DISTINCT-key compressions: both
    join inputs are aggregates, so no plan path joins raw fact rows."""
    plan = (
        workloads_r17.q_fk_orphan_report(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan
    # scalar totals attach via bounded single-row joins, and the only
    # cartesian-free mechanism for those is broadcast
    assert "CartesianProduct" not in plan


def test_key_uniqueness_verdicts_and_conservation(spark):
    """The fixture exercises both verdicts: doc_id is a key,
    (lang, source) is the deliberate non-key. content_md5 is
    SF-dependent (exact text duplicates exist at sf0.1 but not
    sf0.001), so only its self-consistency is pinned here — each dup
    key contributes at least 2 dup rows."""
    rows = {
        r["key_name"]: r
        for r in workloads_r17.q_key_uniqueness(spark, SF).collect()
    }
    assert rows["doc_id"]["is_unique"] is True
    assert rows["doc_id"]["n_dup_rows"] == 0
    assert rows["lang_source"]["is_unique"] is False
    assert rows["lang_source"]["n_dup_rows"] > rows["lang_source"]["n_dup_keys"]
    cm = rows["content_md5"]
    assert cm["n_dup_rows"] >= 2 * cm["n_dup_keys"]
    assert cm["is_unique"] is (cm["n_dup_keys"] == 0)
    # conservation: every key set partitions the same row count
    n = {r["n_rows"] for r in rows.values()}
    assert len(n) == 1
