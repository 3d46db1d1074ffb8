"""The workloads_r19 cohort: the robust-statistics tier on
rank_select_by_group: its plan pin (broadcast stat joins, no corpus
funnel) and the textbook relationships between MAD, IQR fences and the
winsorized mean. Every gate's differential against its DuckDB twin and
its plan check for row-at-a-time Python and cartesian products run in
test_gates.py.
"""

from __future__ import annotations

from conftest import (
    SF,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
)
from database_collector_spark import workloads_r19


def test_staged_sets_are_one_to_one():
    assert set(workloads_r19.QUERIES) == set(workloads_r19.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r19.ORACLES)


def test_staged_plans_have_no_python_or_cartesian_or_corpus_funnel(gate_plan):
    for name in workloads_r19.QUERIES:
        plan = gate_plan(name)
        assert_no_row_python_or_cartesian(name, plan)
        # the whole point of the tier: candidate joins broadcast; the
        # per-group-window/SMJ funnel shapes must never return
        assert "BroadcastHashJoin" in plan, f"{name}: candidate join not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: SMJ crept in"


def test_robust_stats_textbook_relationships(spark):
    """Cross-gate consistency: MAD bounded by the max |deviation| and
    >= 0; winsorized mean inside its own bracket; every outlier count
    strictly less than n and fences consistent with the quartiles."""
    from pyspark.sql import functions as F

    mad = {r["source"]: r for r in workloads_r19.q_group_mad(spark, SF).collect()}
    toks = workloads_r19._doc_tokens(spark, SF)
    spread = {
        r["source"]: r
        for r in toks.groupBy("source")
        .agg(F.min("n_tok").alias("lo"), F.max("n_tok").alias("hi"))
        .collect()
    }
    for src, r in mad.items():
        assert r["mad_tokens"] >= 0
        max_dev = max(
            abs(spread[src]["lo"] - r["med_tokens"]),
            abs(spread[src]["hi"] - r["med_tokens"]),
        )
        assert r["mad_tokens"] <= max_dev, src
        assert spread[src]["lo"] <= r["med_tokens"] <= spread[src]["hi"], src

    for r in workloads_r19.q_winsorized_mean(spark, SF).collect():
        assert r["q05_cents"] <= r["winsorized_mean_cents"] <= r["q95_cents"], r

    for r in workloads_r19.q_iqr_outlier_report(spark, SF).collect():
        assert r["p25"] <= r["p75"], r
        assert 0 <= r["n_low_outliers"] + r["n_high_outliers"] < r["n"], r
