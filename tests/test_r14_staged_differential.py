"""The workloads_r14 cohort: its plan sweep, the ks/curve SinglePartition
pins and the ECE fold from streamed fixed-bin state. Every gate's
differential against its DuckDB twin and its plan check for
row-at-a-time Python and cartesian products run in test_gates.py.
"""

from __future__ import annotations

import pytest

from conftest import (
    SF,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
)
from database_collector_spark import workloads_r14
from test_plan_quality import (
    _assert_single_partition_inputs_bounded,
    _assert_single_partition_is_guard_only,
)


def test_staged_sets_are_one_to_one():
    assert set(workloads_r14.QUERIES) == set(workloads_r14.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r14.ORACLES)


def test_staged_plans_have_no_python_udfs_or_cartesians(gate_plan):
    for name in workloads_r14.QUERIES:
        assert_no_row_python_or_cartesian(name, gate_plan(name))


def test_ece_foldable_from_streamed_fixed_bin_state(spark):
    """The monitoring story behind ece_report, pinned: its per-bin state
    (n, positives, Σp) is a plain keyed commutative aggregate over the
    SAME all-integer bin expression, so a Structured Streaming
    update-mode query maintains it with BOUNDED state (n_bins keys
    forever), and folding ECE/MCE from the stream's end-state equals
    the batch operator exactly — the calibration-error monitor a
    production gate runs while the corpus streams in (the
    fixed_bin_calibration / ttl_expiry_counts pattern)."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from database_collector_spark.operators.ranking import ece_report

    rows = [
        (50, 0), (120, 0), (180, 1), (450, 0), (480, 1), (520, 1),
        (730, 1), (760, 0), (990, 1), (1000, 1), (0, 0), (999, 1),
    ]
    n_bins, scale = 5, 1000
    latest: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            latest[r["b"]] = (r["nb"], r["pos"], r["sp"])

    with _tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        _os.makedirs(src)

        def run_pass():
            stream = spark.readStream.schema("p_milli long, label int").json(src)
            binned = stream.select(
                F.least(
                    F.expr(f"(p_milli * {n_bins}) div {scale}"),
                    F.lit(n_bins - 1),
                ).alias("b"),
                "p_milli",
                "label",
            )
            agg = binned.groupBy("b").agg(
                F.count("*").alias("nb"),
                F.sum("label").alias("pos"),
                F.sum("p_milli").alias("sp"),
            )
            q = (
                agg.writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                assert q.awaitTermination(120), "stream pass did not finish"
            finally:
                q.stop()

        for i, chunk in enumerate((rows[:5], rows[5:9], rows[9:])):
            with open(f"{src}/b{i}.json", "w") as f:
                f.write(
                    "\n".join(
                        _json.dumps({"p_milli": p, "label": y}) for p, y in chunk
                    )
                )
            run_pass()

    n = sum(nb for nb, _, _ in latest.values())
    gaps = {b: abs(scale * pos - sp) for b, (nb, pos, sp) in latest.items()}
    ece = round(sum(gaps.values()) / (scale * n), 6)
    mce = round(
        max(g / (scale * latest[b][0]) for b, g in gaps.items()), 6
    )
    [batch] = ece_report(
        spark.createDataFrame(rows, "p_milli long, label int"),
        n_bins=n_bins,
        scale=scale,
    ).collect()
    assert (batch["n"], batch["ece"], batch["mce"]) == (n, ece, mce)


def test_ks_separation_single_partitions_are_guard_only(spark):
    """ks_statistic inherits auc_exact's whole scale argument; pin it
    structurally — every SinglePartition exchange in the gate must be
    the prefix core's bounded rng guard (count-over-() window above,
    rng min/max aggregate below), never a corpus gather or sort."""
    plan = (
        workloads_r14.q_ks_separation(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    _assert_single_partition_is_guard_only(plan)


@pytest.mark.parametrize("gate", ["pr_curve_sweep", "lift_deciles"])
def test_curve_gates_single_partitions_are_bounded_aggregates(spark, gate):
    """The curve gates ride the ungrouped calibration core: legitimate
    SinglePartition exchanges are bounded post-aggregate gathers (the
    <=65536-row `_cell#` histogram, the <= n_bins `bin#` table, scalar
    totals) — each occurrence's child must be an aggregate and any
    sorted consumer must sort one of those bounded keys, so a
    corpus-sized funnel fails structurally regardless of occurrence
    count (the r11 ADVICE stance)."""
    plan = (
        workloads_r14.QUERIES[gate](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    _assert_single_partition_inputs_bounded(
        plan,
        child_markers=("HashAggregate",),
        sorted_key_markers=("bin#", "_cell#"),
    )
