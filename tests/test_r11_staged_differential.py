"""The workloads_r11 cohort: its registry bookkeeping and the SemDeDup /
substring-dedup result pins. Every gate's differential against its
DuckDB twin and its plan check for row-at-a-time Python and cartesian
products run in test_gates.py.
"""

from __future__ import annotations

from conftest import (
    SF,
    assert_module_documented,
    assert_module_registered,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
    assert_registration_composes,
)
from database_collector_spark import workloads_r11


def test_staged_sets_are_one_to_one():
    assert set(workloads_r11.QUERIES) == set(workloads_r11.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r11.ORACLES)


def test_staged_plans_have_no_python_udfs_or_cartesians(gate_plan):
    for name in workloads_r11.QUERIES:
        assert_no_row_python_or_cartesian(name, gate_plan(name))


def test_every_staged_gate_is_documented_and_window_headed():
    assert_module_documented(workloads_r11, "r11")


def test_r11_cohort_is_fully_registered():
    assert_module_registered(workloads_r11)


def test_r11_registration_dry_run_composes(gate_plan):
    assert_registration_composes(workloads_r11, gate_plan)


def test_semdedup_prune_is_nontrivial(spark):
    """The gate must actually DROP something at the fixture SFs — a
    threshold that never fires would pass the differential trivially
    (every row dropped=false)."""
    out = workloads_r11.QUERIES["semdedup_prune"](spark, SF)
    n_dropped = out.filter("dropped").count()
    assert n_dropped > 0


def test_substring_spans_are_maximal_and_covered(spark):
    """Span contract: spans are >= k tokens, starts positive, and no two
    spans of one doc overlap or touch (maximality: touching spans would
    have merged)."""
    rows = (
        workloads_r11.QUERIES["substring_dedup"](spark, SF)
        .orderBy("doc_id", "span_start")
        .collect()
    )
    assert rows
    k = workloads_r11._SUBSTR_K
    prev = {}
    for r in rows:
        assert r["span_tokens"] >= k
        assert r["span_start"] >= 1
        assert r["span_end"] == r["span_start"] + r["span_tokens"] - 1
        if r["doc_id"] in prev:
            # islands split only when the position gap exceeds k, so
            # distinct spans never overlap or touch (start >= prev
            # end + 2); touching spans would have merged
            assert r["span_start"] > prev[r["doc_id"]] + 1
        prev[r["doc_id"]] = r["span_end"]
