"""The workloads_r13 cohort: its registry bookkeeping, the bucketed
sort-merge pins, the refined-quantile re-grid audit, the fixed-bin
calibration stream-vs-batch end state, and the MAP@k / Cohen's kappa /
hard-negative references. Every gate's differential against its DuckDB
twin and its plan check for row-at-a-time Python and cartesian products
run in test_gates.py.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from conftest import (
    SF,
    assert_module_documented,
    assert_module_registered,
    assert_no_row_python_or_cartesian,
    assert_oracles_portable,
    assert_registration_composes,
)
from database_collector_spark import workloads_r13


def test_staged_sets_are_one_to_one():
    assert set(workloads_r13.QUERIES) == set(workloads_r13.ORACLES)


def test_staged_oracles_have_no_arrow_unportable_columns(oracle_con):
    assert_oracles_portable(oracle_con, workloads_r13.ORACLES)


def test_staged_plans_have_no_python_udfs_or_cartesians(gate_plan):
    for name in workloads_r13.QUERIES:
        assert_no_row_python_or_cartesian(name, gate_plan(name))


def test_every_staged_gate_is_documented_and_window_headed():
    assert_module_documented(workloads_r13, "r13")


def test_r13_cohort_is_fully_registered():
    assert_module_registered(workloads_r13)


def test_r13_registration_dry_run_composes(gate_plan):
    assert_registration_composes(workloads_r13, gate_plan)


def test_hard_negatives_subset_of_restricted_topk(spark):
    """Every mined pair satisfies both predicates, and the result equals
    cosine_topk run over the candidate set restricted to negatives (the
    operator must prune the stream, not re-rank differently)."""
    from database_collector_spark.operators import similarity
    from database_collector_spark.workloads import _t

    emb = _t(spark, SF, "embeddings")
    got = similarity.hard_negatives(
        emb, anchor_filter="vec_id < 10 AND label >= 5",
        negative_filter="label < 5", k=3,
    ).collect()
    assert got, "fixture must yield at least one anchor"
    anchors = {
        r["vec_id"] for r in emb.filter("vec_id < 10 AND label >= 5")
        .select("vec_id").collect()
    }
    negatives = {
        r["vec_id"] for r in emb.filter("label < 5").select("vec_id").collect()
    }
    for r in got:
        assert r["q_id"] in anchors and r["c_id"] in negatives
    # brute-force reference with the operator's own quantization
    # (round(x * 2^20) int dots, one double division), negatives-only
    # candidate set — cosine_topk can't express that (its candidate
    # side is the whole input), which is exactly why the operator exists
    vecs = {
        r["vec_id"]: [round(float(x) * 1048576) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        return dot / (
            math.sqrt(float(sum(x * x for x in vecs[a])))
            * math.sqrt(float(sum(x * x for x in vecs[b])))
        )

    expected = set()
    for q in anchors:
        scored = sorted(
            ((-cos(q, c), c) for c in negatives if c != q)
        )[:3]
        expected |= {
            (q, c, round(-n, 6), i + 1) for i, (n, c) in enumerate(scored)
        }
    got_pairs = {(r["q_id"], r["c_id"], r["cos"], r["rank"]) for r in got}
    assert got_pairs == expected


def test_rule_attribution_marginals_reconcile(spark):
    """The funnel contract: sum of marginals == number of documents
    flagged by ANY rule (so survivors = n_docs - sum(marginals)
    exactly), and each rule's marginal never exceeds its flag count."""
    from pyspark.sql import functions as F

    from database_collector_spark.workloads import _t
    from database_collector_spark.workloads_r13 import _rule_columns

    rows = workloads_r13.q_rule_attribution(spark, SF).collect()
    total_marginal = sum(r["n_marginal"] for r in rows)
    for r in rows:
        assert r["n_marginal"] <= r["n_flagged"], r
    docs = _t(spark, SF, "documents")
    any_rule = None
    for _, pred in _rule_columns():
        any_rule = pred if any_rule is None else (any_rule | pred)
    flagged_any = docs.where(any_rule).count()
    assert total_marginal == flagged_any
    assert rows[0]["n_marginal"] == rows[0]["n_flagged"], (
        "rule 0 has no prior rules; its marginal must equal its flag count"
    )


def test_quantiles_refined_regrids_the_degenerate_cell(spark):
    """The reason this gate exists: on the 1e12-bulk + zero-outlier
    domain the UNREFINED core maps (nearly) every distinct value of a
    group into one bucket — the documented single-populous-bucket
    residual — while the ARMED core re-grids the populous cell and
    spreads the bulk. Audit via the bucket_col hook: per group, the
    max share of distinct values in one bucket must be close to 1
    unrefined and small refined."""
    from pyspark.sql import functions as F

    from database_collector_spark.operators.ranking import prefix_count_below
    from database_collector_spark.workloads import _t
    from database_collector_spark.workloads_r13 import _qr_value

    docs = _t(spark, SF, "documents")
    per = (
        docs.select(F.col("lang").alias("g"), _qr_value().alias("v"))
        .where(F.col("g").isNotNull() & F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count("*").alias("cnt"))
    )

    def max_bucket_share(refined: bool) -> float:
        out = prefix_count_below(
            per,
            ["g"],
            "v",
            "cnt",
            out_col="below",
            refine_narrow_domains=refined,
            bucket_col="bkt",
        )
        stats = (
            out.groupBy("g", "bkt")
            .agg(F.count("*").alias("nv"))
            .groupBy("g")
            .agg((F.max("nv") / F.sum("nv")).alias("share"))
            .agg(F.max("share"))
            .collect()[0][0]
        )
        return float(stats)

    unref = max_bucket_share(False)
    ref = max_bucket_share(True)
    assert unref > 0.9, f"domain not degenerate enough: unrefined share {unref}"
    assert ref < 0.25, f"refine did not spread the bulk: refined share {ref}"


def test_fixed_bin_calibration_stream_end_state_matches_batch(spark):
    """The streaming story the operator docstring claims, pinned: the
    SAME fixed_bin_calibration expression over a readStream source,
    run in update mode across multiple availableNow passes restarting
    from one checkpoint, converges to the batch twin's exact per-bin
    rows. Bins are a bounded key domain (n_bins keys forever), so no
    watermark/TTL is needed for state to stay bounded."""
    from pyspark.sql import functions as F

    from database_collector_spark.operators.ranking import fixed_bin_calibration

    rows = [  # (s_int, y) — spans below-lo, in-range, above-hi scores
        (-300, 0), (-300, 1), (-120, 0), (-51, 1), (-50, 1),
        (0, 1), (49, 0), (120, 1), (260, 1), (260, 0), (5, 0),
    ]
    kw = dict(score_col="s_int", label_col="y", lo=-250, bin_width=50, n_bins=10)

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        latest: dict = {}

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                latest[r["bin"]] = tuple(r)

        def run_pass():
            stream = spark.readStream.schema("s_int long, y int").json(src)
            q = (
                fixed_bin_calibration(stream, **kw)
                .writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                assert q.awaitTermination(120), "stream pass did not finish"
            finally:
                q.stop()

        def write_batch(fname, some):
            with open(f"{src}/{fname}", "w") as f:
                f.write(
                    "\n".join(json.dumps({"s_int": s, "y": y}) for s, y in some)
                )

        write_batch("b1.json", rows[:4])
        run_pass()
        write_batch("b2.json", rows[4:8])
        run_pass()
        write_batch("b3.json", rows[8:])
        run_pass()

    batch = fixed_bin_calibration(
        spark.createDataFrame(rows, "s_int long, y int"), **kw
    )
    expected = {r["bin"]: tuple(r) for r in batch.collect()}
    assert latest == expected


def test_fixed_bin_calibration_validates_params(spark):
    """r12 review: garbage bin geometry must fail fast, not silently
    produce one bogus bin (n_bins=0 would clamp every row to bin -1;
    bin_width=0 NULLs the div; negative width inverts the binning)."""
    from database_collector_spark.operators.ranking import fixed_bin_calibration

    df = spark.createDataFrame([(1, 1)], "s_int long, y int")
    for bad in (dict(n_bins=0), dict(bin_width=0), dict(bin_width=-5),
                dict(lo=1.5), dict(n_bins=-1)):
        kw = dict(score_col="s_int", label_col="y", lo=0, bin_width=1, n_bins=10)
        kw.update(bad)
        with pytest.raises(ValueError):
            fixed_bin_calibration(df, **kw)
    # a column name needing backticks must work (no string interpolation
    # of user identifiers into expr)
    odd = spark.createDataFrame([(7, 1)], "`my score` long, y int")
    out = fixed_bin_calibration(
        odd, score_col="my score", label_col="y", lo=0, bin_width=1, n_bins=10
    ).collect()
    assert out[0]["bin"] == 7 and out[0]["n_pos"] == 1


def test_map_at_k_matches_hand_computation(spark):
    """Brute-force reference for map_at_k on a hand-computed 2-group
    fixture: group g1 has ranked+judged rows (AP verifiable by hand),
    g2 is judged-but-unranked (scores 0.0), g3 is ranked with zero
    relevant judgments (NULL r_at_k/ap)."""
    from database_collector_spark.operators.ranking import map_at_k

    ranked = spark.createDataFrame(
        [("g1", 1, 1), ("g1", 2, 2), ("g1", 3, 3), ("g1", 4, 4),
         ("g3", 7, 1), ("g3", 8, 2)],
        "g string, doc_id int, rank int",
    )
    rels = spark.createDataFrame(
        # g1: docs 1,3 relevant + doc 99 relevant-but-unranked -> n_rel=3
        [("g1", 1, 1), ("g1", 2, 0), ("g1", 3, 1), ("g1", 99, 1),
         ("g2", 5, 1),
         ("g3", 7, 0)],
        "g string, doc_id int, rel int",
    )
    out = {
        r["g"]: r
        for r in map_at_k(ranked, rels, k=3, group_col="g").collect()
    }
    g1 = out["g1"]
    # top-3 of g1 = docs 1,2,3 -> hits at ranks 1,3; cum hits 1,1,2
    # AP = (1/1 + 2/3) / min(3, 3) = 5/9
    assert (g1["n_ranked"], g1["n_rel"], g1["hits"]) == (3, 3, 2)
    assert g1["p_at_k"] == round(2 / 3, 6)
    assert g1["r_at_k"] == round(2 / 3, 6)
    assert g1["ap"] == round((1.0 + 2.0 / 3.0) / 3.0, 6)
    g2 = out["g2"]
    assert (g2["n_ranked"], g2["n_rel"], g2["hits"]) == (0, 1, 0)
    assert (g2["p_at_k"], g2["r_at_k"], g2["ap"]) == (0.0, 0.0, 0.0)
    g3 = out["g3"]
    assert (g3["n_ranked"], g3["n_rel"], g3["hits"]) == (2, 0, 0)
    assert g3["p_at_k"] == 0.0 and g3["r_at_k"] is None and g3["ap"] is None
    # rank >= 1 is enforced in-plan
    bad = spark.createDataFrame([("g1", 1, 0)], "g string, doc_id int, rank int")
    with pytest.raises(Exception, match="ranks are 1-based"):
        map_at_k(bad, rels, k=3, group_col="g").collect()


def test_cohen_kappa_matches_hand_computation(spark):
    """Hand-computed kappa cases: imperfect agreement (classic 2x2),
    perfect agreement (kappa=1), constant raters (NULL), and pairwise
    deletion of NULL votes."""
    from database_collector_spark.operators.ranking import cohen_kappa

    # ga: n=10, agree=7, pos_a=5, pos_b=4 (a=b=1 on 3 rows)
    # pe_num = 5*4 + 5*6 = 50; kappa = (70-50)/(100-50) = 0.4
    rows = (
        [("ga", 1, 1)] * 3 + [("ga", 1, 0)] * 2 + [("ga", 0, 1)] * 1
        + [("ga", 0, 0)] * 4
        + [("gb", 1, 1)] * 2 + [("gb", 0, 0)] * 3          # perfect
        + [("gc", 1, 1)] * 2 + [("gc", 1, 0)] * 2          # a constant
        + [("gd", None, 1), ("gd", 1, 1), ("gd", 0, 0)]    # NULL dropped
        + [("ge", 1, 1)] * 3                               # both constant
    )
    df = spark.createDataFrame(rows, "g string, a int, b int")
    out = {
        r["g"]: r
        for r in cohen_kappa(
            df, rater_a_col="a", rater_b_col="b", group_col="g"
        ).collect()
    }
    ga = out["ga"]
    assert (ga["n"], ga["agree"], ga["pos_a"], ga["pos_b"]) == (10, 7, 5, 4)
    assert ga["kappa"] == 0.4
    assert out["gb"]["kappa"] == 1.0
    # ONE constant rater: den = n * neg_b != 0, kappa = 0 exactly (no
    # better than chance) — NOT the undefined case
    assert out["gc"]["kappa"] == 0.0
    assert out["gd"]["n"] == 2 and out["gd"]["kappa"] == 1.0
    # BOTH raters constant on the same side: pe = 1, kappa undefined
    assert out["ge"]["kappa"] is None


def test_bucketed_join_is_exchange_free_when_smj_forced(spark):
    """At fixture scale Catalyst rightly broadcasts the tiny side; the
    100 TB claim is the SORT-MERGE path (both sides too big to
    broadcast), where bucketing must elide the exchanges entirely.
    Force it by disabling broadcast and pin: SMJ, ZERO exchange of any
    kind under the join (the only shuffles in the whole gate are the
    final per-lang aggregate + its ordering), bucketed scans on both
    sides."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            workloads_r13.q_bucketed_join_persist(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("Bucketed: true") == 2, plan[:2000]
    # exchanges: exactly the per-lang aggregate shuffle + the orderBy
    # range partitioning — NONE keyed by doc_id (the join key)
    assert "Exchange hashpartitioning(doc_id" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_bucketed_layout_serves_second_consumers_exchange_free(spark):
    """The layout is SHARED infrastructure (r13 VERDICT #6): after
    ensure_bucketed_tables builds the pair once, OTHER consumers —
    the nightly label report (a different aggregate over the same
    join) and the coverage anti-join — also run with ZERO doc_id
    exchange under their joins, and their values match the raw-parquet
    computation."""
    from pyspark.sql import functions as F

    from examples.nightly_join import coverage_gaps, label_report
    from database_collector_spark.workloads import _t
    from database_collector_spark.workloads_r13 import ensure_bucketed_tables

    dt, et = ensure_bucketed_tables(spark, SF)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        report = label_report(spark, dt, et)
        gaps = coverage_gaps(spark, dt, et)
        rplan = report._jdf.queryExecution().executedPlan().toString()
        gplan = gaps._jdf.queryExecution().executedPlan().toString()
        got = [tuple(r) for r in report.collect()]
        n_gaps = gaps.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for plan in (rplan, gplan):
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        assert "Exchange hashpartitioning(doc_id" not in plan
    # the label report's only shuffles: label aggregate + its ordering
    assert rplan.count("Exchange hashpartitioning") == 1
    # the anti join itself is completely exchange-free
    assert "Exchange" not in gplan.split("SortMergeJoin")[1]
    # values match the raw-parquet computation
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    raw = (
        _t(spark, SF, "documents")
        .join(emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id")
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("label")
    )
    assert got == [tuple(r) for r in raw.collect()]
    n_raw_gaps = (
        _t(spark, SF, "documents")
        .join(
            emb.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti"
        )
        .count()
    )
    assert n_gaps == n_raw_gaps


def test_new_eval_gate_plans_stay_parallel(spark):
    """Plan pins for the r12-second-wave staged gates: map_quality's
    two ranking windows get the rank-limit pushdown (tasks keep k rows
    before the per-group sort) and nothing funnels to one partition;
    cohen_kappa is ONE keyed aggregate shuffle (its joins broadcast);
    hard_negatives broadcasts the bounded anchor batch (BNLJ — the
    probe stream stays map-side) and its per-anchor top-k window is
    group-limit pushed."""
    plans = {
        name: workloads_r13.QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        for name in ("map_quality", "cohen_kappa", "hard_negatives")
    }
    for name, plan in plans.items():
        assert plan.count("Exchange SinglePartition") == 0, name
    assert plans["map_quality"].count("WindowGroupLimit") >= 2
    assert plans["cohen_kappa"].count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plans["cohen_kappa"]
    assert plans["hard_negatives"].count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plans["hard_negatives"]
    assert plans["hard_negatives"].count("WindowGroupLimit") >= 2
