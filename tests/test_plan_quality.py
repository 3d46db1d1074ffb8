"""Physical-plan assertions: the 100 TB claims in operator docstrings
(zero-shuffle, pushdown, broadcast) pinned against the executed plan, so a
refactor that silently introduces a shuffle or blocks pushdown fails CI —
not a 1000-executor cluster.
"""

from __future__ import annotations

import pytest

from conftest import assert_no_row_python_or_cartesian
from database_collector_spark import gates, workloads_text

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_single_partition_inputs_bounded(
    plan: str,
    *,
    child_markers: tuple[str, ...] = ("HashAggregate",),
    sorted_key_markers: tuple[str, ...] = (),
) -> None:
    """Structural single-partition audit for plans whose legitimate
    SinglePartition exchanges are bounded post-aggregate gathers (cell
    histograms, scalar totals, |sources|-row quota tables) rather than
    prefix_count_below guards: each occurrence's CHILD line (its input)
    must be one of ``child_markers`` — an aggregate output, never a raw
    project/scan/join over the corpus — and if a `Sort` consumes the
    exchange directly, its sort keys must mention one of
    ``sorted_key_markers`` (the bounded-domain columns, e.g. the
    <=65536-value `_cell#` histogram key or the per-source largest-
    remainder `rem#`). A corpus funnel — Sort on a data column over a
    single-partition gather of un-aggregated rows — fails both prongs
    regardless of any occurrence-count budget (r11 ADVICE: a bare
    count budget admitted exactly that).

    Like ``_assert_single_partition_is_guard_only``, the pairing reads
    a THREE-line window on each side rather than strict i±1 adjacency
    (r12 VERDICT advisory: same plan-format-drift brittleness class,
    same cure) — an AQE wrapper line between the exchange and its
    aggregate child no longer reads as a false failure, while a corpus
    funnel still fails: a raw project/scan child within the window has
    no aggregate line to satisfy the child prong, and a sorted consumer
    on a data column still trips the key prong."""
    lines = plan.splitlines()
    # wrapper nodes that forward their child's rows 1:1 — only these may
    # sit between the exchange and its aggregate child; anything else
    # (Generate/explode, Expand, joins, Project-with-explode) can change
    # the row volume, so an aggregate further down no longer bounds what
    # the exchange gathers (second-pass review: the any-marker-in-window
    # form admitted 'Exchange / Generate explode / HashAggregate').
    # The scan window extends as wrappers are skipped (third-pass
    # review: a fixed 3-line window false-failed when three wrappers
    # stacked), and ReusedExchange is an acceptable CHILD, not a
    # skippable wrapper — it is a leaf reference to an exchange
    # validated at its original site, and skipping past a leaf would
    # read an unrelated sibling subtree's line as the child.
    _PASSTHROUGH = ("AQEShuffleRead", "ShuffleQueryStage", "InputAdapter")
    accept = (*child_markers, "ReusedExchange")
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        below = lines[i + 1 : i + 8]
        effective_child = ""
        skipped = 0
        for b in below:
            if skipped < 6 and any(w in b for w in _PASSTHROUGH):
                skipped += 1
                continue
            effective_child = b
            break
        assert any(m in effective_child for m in accept), (
            f"SinglePartition exchange over un-aggregated input:\n"
            f"  line:  {ln.strip()[:120]}\n"
            f"  child: {effective_child.strip()[:90]}\n"
            f"  below: {[b.strip()[:90] for b in below[:4]]}"
        )
        # Sorts on BOTH sides of the exchange must be on bounded-domain
        # keys: above = a sorted single-partition consumer; below = a
        # Sort as the exchange's EFFECTIVE child (a per-partition sort
        # feeding the gather — the child prong alone would admit
        # 'Exchange / Sort [data col] / HashAggregate'). Deeper sorts
        # inside an already-validated aggregate child subtree are that
        # operator's own business (third-pass review: scanning the whole
        # widened window would false-fail a SortAggregate's inner sort).
        for near in [*lines[max(0, i - 3) : i], effective_child]:
            if "Sort [" in near:
                assert any(m in near for m in sorted_key_markers), (
                    f"sorted single-partition neighbor on an unexpected "
                    f"key (corpus-funnel signature):\n"
                    f"  sort: {near.strip()[:120]}"
                )


def _assert_no_sorted_single_partition_funnel(plan: str) -> None:
    """The corpus-funnel signature: a `Sort [...]` feeding (or fed by) an
    `Exchange SinglePartition` within two plan lines. Bounded guard /
    post-aggregate single-partition exchanges never sort, so any match
    is a real whole-corpus funnel. Note Spark renders sorts as
    `Sort [...], false, 0` — a `Sort \\[...\\]\\n` regex never matches
    (r11 review finding), hence the open-ended line tails here."""
    import re

    assert not re.search(
        r"Sort \[[^\n]*\n[^\n]*\+- Exchange SinglePartition", plan
    ), "sorted single-partition funnel in plan (sort above exchange)"
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Sort \[", plan
    ), "sorted single-partition funnel in plan (sort below exchange)"


def _assert_single_partition_is_guard_only(plan: str) -> None:
    """Every Exchange SinglePartition must belong to prefix_count_below's
    bounded in-plan cardinality guard, verified STRUCTURALLY per
    occurrence: the guard's sort-free `Window [count(1) ...]` must sit
    within three lines above and the rng aggregate itself
    (HashAggregate over the SIGNUM/LOG1P min/max — the |groups|-row
    table) within three lines below. The small window (rather than
    strict i-1/i+1 adjacency) tolerates Spark/AQE plan-format drift —
    an extra wrapper line between the pair no longer reads as a false
    failure — while a sorted single-partition consumer (the
    corpus-funnel signature), a corpus-wide count-over-() window, or
    any other single-partition consumer still fails the pairing:
    review caught that bare string counts could not tell a bounded
    guard from a corpus-sized count window."""
    _assert_no_sorted_single_partition_funnel(plan)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        above = lines[max(0, i - 3) : i]
        below = lines[i + 1 : i + 4]
        assert any(
            "Window [count(1) windowspecdefinition(specifiedwindowframe" in a
            for a in above
        ) and any("HashAggregate" in b and "LOG1P" in b for b in below), (
            "SinglePartition exchange not paired with the rng cardinality "
            f"guard:\n  above: {[a.strip()[:90] for a in above]}\n  line:  "
            f"{ln.strip()[:120]}\n  below: {[b.strip()[:90] for b in below]}"
        )


def _assert_prefix_core_windows(
    plan: str,
    partition_col: str,
    *,
    extra_second_args: tuple[str, ...] = (),
) -> None:
    """Shared pin for gates whose ordered work rides the two-level
    prefix core keyed by ``partition_col``: guard-only SinglePartition
    exchanges, EVERY ordered window's first two spec args are
    (partition_col, cell-or-bucket [or an allowed extra, e.g. a
    rank-limit-pushed top-k key]), no Python, no cartesian. One
    definition (third-pass review: five copy-pasted regex blocks had
    already drifted — one copy lost its vacuity guard)."""
    import re

    _assert_single_partition_is_guard_only(plan)
    specs = re.findall(r"windowspecdefinition\((\w+)#\d+L?, (\w+)#", plan)
    assert specs, "no windows found — pin is vacuous"
    # every windowspecdefinition must be accounted for: captured by the
    # two-arg regex above, the arg-less count(1) guard form
    # (windowspecdefinition(specifiedwindowframe...)), or a
    # PARTITION-ONLY window (windowspecdefinition(col#,
    # specifiedwindowframe...) — the prefix core's sort-free per-key
    # aggregates over its bounded tables, whose key must still be the
    # pinned partition column). An UNPARTITIONED ordered window — the
    # corpus-funnel shape, rendered as windowspecdefinition(col# ASC
    # ..., specifiedwindowframe...) — matches none of the three and
    # fails here loudly instead of silently escaping the per-spec check
    # below (r13 ADVICE: the second-arg pin was partially vacuous for
    # exactly that shape)
    part_only = re.findall(
        r"windowspecdefinition\((\w+)#\d+L?, specifiedwindowframe", plan
    )
    for first_arg in part_only:
        assert first_arg == partition_col, (
            f"partition-only window keyed by {first_arg}, not "
            f"{partition_col}"
        )
    uncaptured = (
        plan.count("windowspecdefinition(")
        - plan.count("windowspecdefinition(specifiedwindowframe")
        - len(part_only)
        - len(specs)
    )
    assert uncaptured == 0, (
        f"{uncaptured} windowspecdefinition occurrence(s) not captured by "
        "the two-arg pin regex, the arg-less guard form, or the "
        "partition-only form — an unpartitioned ordered window "
        "(corpus-funnel signature) is in the plan"
    )
    allowed = ("_b", "_cell", *extra_second_args)
    for first_arg, second_arg in specs:
        assert first_arg == partition_col, (
            f"window not partitioned by {partition_col}: {first_arg}"
        )
        assert second_arg in allowed, (
            f"window's second spec arg is {second_arg}, not a bounded "
            f"cell/bucket key (allowed: {allowed}) — a per-group "
            "corpus-sized window has returned"
        )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_lang_id_is_zero_shuffle(spark):
    from database_collector_spark.operators.text import lang_id
    from database_collector_spark.workloads import _t

    plan = _plan(lang_id(_t(spark, SF, "documents")))
    assert "Exchange hashpartitioning" not in plan


def test_fingerprint_is_zero_shuffle(spark):
    from database_collector_spark.operators.text import fingerprint
    from database_collector_spark.workloads import _t

    plan = _plan(fingerprint(_t(spark, SF, "documents")))
    assert "Exchange hashpartitioning" not in plan


def test_minhash_signatures_zero_shuffle(spark):
    from database_collector_spark.operators.dedup import minhash_signatures
    from database_collector_spark.workloads import _t

    plan = _plan(minhash_signatures(_t(spark, SF, "documents")))
    assert "Exchange hashpartitioning" not in plan


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = _plan(gates.all_queries()["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned read: none of the untouched columns reach the scan
    assert "l_partkey" not in plan and "l_suppkey" not in plan
    # stays in whole-stage codegen (no Python in the hot path)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shipping_priority_broadcasts_dims(spark):
    plan = _plan(gates.all_queries()["shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_semi_anti_planned_as_semi_and_anti(spark):
    plan = _plan(gates.all_queries()["semi_anti_orders"](spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_window_running_single_sort(spark):
    plan = _plan(gates.all_queries()["window_running"](spark, SF))
    # all four window functions share one Window operator (one sort)
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 1


def test_enrich_histogram_expansion_no_python(spark):
    """The core §2.4 transform is pure JVM expressions end-to-end."""
    from pyspark.sql import Row

    from database_collector_spark.model.schemas import METRIC_SAMPLE_SCHEMA
    from database_collector_spark.operators.enrich import enrich

    df = spark.createDataFrame(
        [
            Row(
                name="m",
                metric_type="GAUGE",
                labels={"a": "1"},
                value=1.0,
                ts=None,
                buckets=None,
                quantiles=None,
                sample_sum=None,
                sample_count=None,
            )
        ],
        METRIC_SAMPLE_SCHEMA,
    )
    plan = _plan(
        enrich(df, host="h.x.y", engine="mysql", region="r", account_id="a")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

def test_window_frames_single_sort(spark):
    plan = _plan(gates.all_queries()["window_frames"](spark, SF))
    # moving-avg frame, running frame, percent_rank and ntile all share
    # the (o_custkey; o_orderdate, o_orderkey) ordering -> one Exchange,
    # one Sort, window ops stacked on top without re-partitioning
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Sort ") <= 1


def test_range_join_is_equi_join_on_bucket(spark):
    plan = _plan(gates.all_queries()["range_join_buckets"](spark, SF))
    # the trailing-window theta predicate must NOT plan as a nested loop:
    # bucketing turns it into a hash-joinable equi condition
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_scan(spark):
    plan = _plan(gates.all_queries()["grouping_sets"](spark, SF))
    # one Expand feeding one aggregate: all three granularities from one scan
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") - plan.count("Scan parquet []") <= 1


def test_hash_split_label_is_map_side_scalar(spark):
    plan = _plan(gates.all_queries()["hash_split"](spark, SF))
    # split assignment is a scalar projection: the only exchange is the
    # final 3-row aggregate's, after map-side partials; no Python anywhere
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_sample_single_stratum_shuffle(spark):
    plan = _plan(gates.all_queries()["sample_stratified"](spark, SF))
    # one exchange on the stratum key; the rank sorts within strata only
    assert plan.count("Exchange hashpartitioning") == 1


def test_ann_multiprobe_broadcasts_query_side(spark):
    plan = _plan(gates.all_queries()["ann_ivf_multiprobe"](spark, SF))
    # the 9-cell probe explode stays on the tiny query side, which must
    # broadcast — a shuffle join here would move the whole corpus per probe
    assert "BroadcastHashJoin" in plan


def test_curation_scalar_pipelines_stay_in_codegen(spark):
    for q in (gates.all_queries()["text_normalize"], gates.all_queries()["lexical_diversity"], gates.all_queries()["token_estimate"]):
        plan = _plan(q(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats_zero_shuffle(spark):
    from database_collector_spark.operators.text import repetition_stats
    from database_collector_spark.workloads import _t

    plan = _plan(repetition_stats(_t(spark, SF, "documents")))
    # the run-length fold keeps both repetition signals per-row: no gram
    # explode, no (doc_id, gram) exchange
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" not in plan


def test_pack_sequences_has_no_per_stream_corpus_sort(spark):
    from database_collector_spark import curation
    from database_collector_spark.workloads import _t

    plan = _plan(curation.pack_sequences(_t(spark, SF, "documents")))
    # the cumulative stream offset rides the two-level prefix core
    # (r13 VERDICT #3: this operator was the audit's miss) — a reverted
    # per-stream cumulative sum would show
    # windowspecdefinition(lang#, doc_id# ...) and fail the shared
    # pin's second-arg check
    _assert_prefix_core_windows(plan, "lang")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_windowed_escape_is_single_shuffle(spark):
    from database_collector_spark import curation
    from database_collector_spark.workloads import _t

    plan = _plan(
        curation.pack_sequences(_t(spark, SF, "documents"), windowed_streams=True)
    )
    # the documented high-cardinality escape keeps the classic shape:
    # exactly ONE exchange on the stream key feeding the running-sum
    # window (cumsum + the duplicate-lag guard share that window's
    # sort), no compression aggregate, no prefix core
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_pairs_band_join_not_cartesian(spark):
    from database_collector_spark.operators.dedup import incremental_minhash_pairs
    from database_collector_spark.workloads import _t
    from pyspark.sql import functions as F

    docs = _t(spark, SF, "documents")
    plan = _plan(
        incremental_minhash_pairs(
            docs.filter(F.col("doc_id") % 7 == 0),
            docs.filter(F.col("doc_id") % 7 != 0),
        )
    )
    # candidates must come from the (band, band_val) equi-join, never a
    # product over either corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    from database_collector_spark.operators.dedup import decontaminate
    from database_collector_spark.workloads import _t
    from pyspark.sql import functions as F

    docs = _t(spark, SF, "documents")
    plan = _plan(
        decontaminate(
            docs.filter(F.col("doc_id") % 13 != 0),
            docs.filter(F.col("doc_id") % 13 == 0),
        )
    )
    # the benchmark n-gram set joins broadcast: the corpus n-gram stream
    # must never shuffle to meet it
    assert "BroadcastHashJoin" in plan


def test_simhash_pairs_bucketed_not_cartesian(spark):
    from database_collector_spark.operators.dedup import simhash_pairs
    from database_collector_spark.workloads import _t

    plan = _plan(simhash_pairs(_t(spark, SF, "documents")))
    # candidates come from the (block, block_val) equi-join buckets
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_sort_no_range_join(spark):
    plan = _plan(gates.all_queries()["asof_join"](spark, SF))
    # union + one per-key window sort; never a nested-loop range join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_decile_stats_no_single_partition_window(spark):
    # the distributed exact-NTILE rewrite must never funnel the table
    # through one task: no SinglePartition exchange anywhere, and the
    # row_number window partitions on pid
    plan = _plan(gates.all_queries()["decile_stats"](spark, SF))
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-pid ranking window is still a window


def test_ttl_expiry_counts_broadcasts_stream_end(spark):
    # the 1-row global max joins via broadcast, not a shuffled cross join
    plan = _plan(gates.all_queries()["ttl_expiry_counts"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_multimodal_decode_single_python_stage(spark):
    # payload synthesis is JVM-side (unhex/repeat in codegen); exactly one
    # Arrow Python boundary — the decode kernel itself
    plan = _plan(gates.all_queries()["multimodal_decode"](spark, SF))
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_decile_distributed_equals_global_ntile(spark):
    # the range-partition + offsets + closed-form bucket math must equal
    # a literal global ntile(10) exactly (same output the DuckDB oracle
    # computes) — pinned here so a formula regression fails CI, not the
    # driver gate
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from database_collector_spark.workloads import _cents, _t

    got = {
        r["decile"]: (r["n_orders"], r["lo"], r["hi"])
        for r in gates.all_queries()["decile_stats"](spark, SF).collect()
    }
    ref_rows = (
        _t(spark, SF, "orders")
        .select("o_orderkey", _cents("o_totalprice").alias("cents"))
        .withColumn("decile", F.ntile(10).over(Window.orderBy("cents", "o_orderkey")))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("cents").cast("double") / 100.0, 2).alias("lo"),
            F.round(F.max("cents").cast("double") / 100.0, 2).alias("hi"),
        )
        .collect()
    )
    ref = {r["decile"]: (r["n_orders"], r["lo"], r["hi"]) for r in ref_rows}
    assert got == ref


def test_pq_encode_zero_shuffle(spark):
    # PQ encoding must run at scan speed: broadcast codebook attach +
    # projection, no Exchange anywhere in the encode plan
    from database_collector_spark.operators import similarity
    from database_collector_spark.workloads import _t

    emb = _t(spark, SF, "embeddings")
    books = similarity.pq_train(emb, m=4, k=4, iters=1)
    plan = _plan(similarity.pq_encode(emb, books).select("vec_id", "codes"))
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row codebook attach


def test_sketch_helpers_have_no_exact_aggregate_or_sort(spark):
    # production sketch path: partial HLL/GK sketches merge through ONE
    # shuffle; no exact count-distinct Expand and no sort-based exact
    # percentile anywhere in the plan (the gate queries keep the exact
    # twin; these helpers must not)
    from database_collector_spark.operators import sketches
    from database_collector_spark.workloads import _t

    ev = _t(spark, SF, "events")
    p1 = _plan(sketches.approx_distinct(ev, ["event_type"], "user_id"))
    assert "approx_count_distinct" in p1
    assert "Sort " not in p1 and "Expand" not in p1
    assert p1.count("Exchange hashpartitioning") == 1

    li = _t(spark, SF, "lineitem")
    p2 = _plan(
        sketches.approx_quantiles(li, ["l_returnflag"], "l_quantity")
    )
    assert "percentile_approx" in p2
    # exact percentile would show up as percentile(...) — approx only
    assert "percentile(" not in p2.replace("percentile_approx(", "")
    assert "Sort " not in p2
    assert p2.count("Exchange hashpartitioning") == 1


def test_funnel_has_no_join_and_two_shrinking_exchanges(spark):
    # the funnel is ONE user-keyed aggregate + a tiny depth re-aggregate:
    # no self-join of the event stream (the naive 3-way formulation), no
    # window over raw events
    plan = _plan(gates.all_queries()["funnel_steps"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_interval_join_is_equi_join_on_bucket_and_key(spark):
    # the ±30min theta condition must compile to an equi-join (bucket +
    # user key) with the range as residual filter — never a nested loop
    plan = _plan(gates.all_queries()["interval_join_events"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_grouped_heavy_hitters_candidates_precede_any_exchange(spark):
    # phase 1 (grouped MG) must run BEFORE the first shuffle: the
    # mapInPandas candidate stage sits under the scan side, so the item
    # universe never shuffles un-pruned
    from database_collector_spark.operators import heavyhitters
    from database_collector_spark.workloads import _t

    ev = _t(spark, SF, "documents").selectExpr("lang", "text AS item")
    plan = _plan(
        heavyhitters.grouped_mg_candidates(
            ev, group_col="lang", item_col="item", capacity=10
        )
    )
    # candidate generation itself: one Python stage, no hash exchange
    # before it (distinct's exchange operates on the tiny candidate set)
    first_exchange = plan.find("Exchange hashpartitioning")
    first_python = plan.find("MapInPandas")
    assert first_python != -1
    assert first_exchange == -1 or first_python > first_exchange


def test_metric_analytics_single_exchange(spark):
    # trend_slope / ewma_smooth / mad_outliers: windows + final aggregate
    # all share the user_id partitioning -> exactly ONE exchange, no
    # Python anywhere (the exact-integer arithmetic is all codegen)
    for fn in (gates.all_queries()["trend_slope"], gates.all_queries()["ewma_smooth"], gates.all_queries()["mad_outliers"]):
        plan = _plan(fn(spark, SF))
        assert plan.count("Exchange hashpartitioning") == 1, fn.__name__
        assert "EvalPython" not in plan and "InPandas" not in plan, fn.__name__


def test_seasonal_profile_single_exchange(spark):
    plan = _plan(gates.all_queries()["seasonal_profile"](spark, SF))
    # the window and the final groupBy share the (event_type, hod) key:
    # one hash exchange serves both
    assert plan.count("Exchange hashpartitioning") == 1


def test_bm25_no_token_stream_shuffle_of_full_vocab(spark):
    plan = _plan(gates.all_queries()["bm25_scores"](spark, SF))
    # df/stats sides broadcast; the isin() term filter sits below the
    # tf aggregation so only matching tokens shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_layout_stays_codegen(spark):
    plan = _plan(gates.all_queries()["zorder_layout"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_no_shuffle(spark):
    plan = _plan(gates.all_queries()["weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_cusum_single_exchange(spark):
    plan = _plan(gates.all_queries()["cusum_changepoints"](spark, SF))
    # both windows and the final groupBy share the event_type key
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_attribution_no_self_join(spark):
    plan = _plan(gates.all_queries()["attribution_first_touch"](spark, SF))
    # join-free: the lookback is a range-frame window, never a self-join
    assert "Join" not in plan


def test_event_transitions_single_user_exchange(spark):
    plan = _plan(gates.all_queries()["event_transitions"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_probe_side_broadcasts(spark):
    plan = _plan(gates.all_queries()["cms_estimates"](spark, SF))
    # the depth*width cell table broadcasts against the probes
    assert "BroadcastHashJoin" in plan


def test_dist_drift_single_scan(spark):
    """The drift audit must read events ONCE: totals come from a window
    over the 12-row bin aggregate, not a second aggregate branch (which
    Catalyst plans as a second full scan)."""
    plan = _plan(gates.all_queries()["dist_drift"](spark, SF))
    assert plan.count("Scan parquet") == 1


def test_m4_downsample_is_one_partial_agg_exchange(spark):
    # M4 must plan as partial HashAggregate -> ONE (type,bucket) exchange
    # -> final HashAggregate: no window, no sort, no join — the mergeable
    # per-bucket form that distinguishes it from sequential LTTB
    plan = _plan(gates.all_queries()["m4_downsample"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan and "Join" not in plan


def test_corpus_shuffle_has_no_single_partition_window(spark):
    # the whole point vs a global row_number: positions come from
    # shard-partitioned windows, never an Exchange SinglePartition
    plan = _plan(gates.all_queries()["corpus_shuffle"](spark, SF))
    assert "SinglePartition" not in plan
    assert "Exchange hashpartitioning(shard" in plan


def test_kmv_sketch_join_is_hash_join(spark):
    # both the sketch-sample join and the exact twin must be planned as
    # user_id hash joins (shuffle or broadcast), never a nested loop
    plan = _plan(gates.all_queries()["kmv_intersection"](spark, SF))
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bigram_logppl_broadcasts_count_tables(spark):
    # corpus bigram/context/vocab tables join back broadcast — the doc
    # side never reshuffles for the lookups
    plan = _plan(gates.all_queries()["bigram_logppl"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hashed_classifier_inrow_path_zero_shuffle(spark):
    from database_collector_spark.operators.text import hashed_classifier
    from database_collector_spark.workloads import _t

    plan = _plan(hashed_classifier(_t(spark, SF, "documents"), bigrams=True))
    assert "Exchange hashpartitioning" not in plan


def test_temperature_mixture_single_aggregate_exchange(spark):
    from database_collector_spark import curation
    from database_collector_spark.workloads import _t

    plan = _plan(curation.temperature_mixture(_t(spark, SF, "documents")))
    # one partial->final aggregate pair on the domain key; the
    # normalization windows run post-aggregate over |domains| rows
    assert plan.count("Exchange hashpartitioning") <= 1


def test_readability_zero_shuffle(spark):
    from database_collector_spark.operators.text import readability
    from database_collector_spark.workloads import _t

    plan = _plan(readability(_t(spark, SF, "documents")))
    assert "Exchange hashpartitioning" not in plan


def test_shard_overlap_candidates_via_hash_equi_join(spark):
    plan = _plan(gates.all_queries()["shard_overlap"](spark, SF))
    # candidate pairs MUST come from the window-hash equi-join — never a
    # nested-loop/cartesian text scan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_outages_never_joins_base_with_holes(spark):
    plan = _plan(gates.all_queries()["interval_outages"](spark, SF))
    # the sweep is window-only: unions + keyed windows, zero joins — a
    # base x holes interval join would appear as any join operator
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_auc_exact_has_no_corpus_sized_single_partition_window(spark):
    plan = _plan(gates.all_queries()["auc_scores"](spark, SF))
    # the per-score running-negatives window MUST be partitioned by the
    # coarse bucket; SinglePartition exchanges are allowed only for the
    # bounded pieces (1-row min/max cut aggregate + final aggregates +
    # the <=65536-row cell-histogram windows that equalize the buckets)
    assert "windowspecdefinition(_b" in plan
    assert plan.count("Exchange SinglePartition") <= 6
    assert "BatchEvalPython" not in plan
    # the corpus is scanned once: branches reuse the checkpointed
    # per-score table instead of re-deriving it
    assert plan.count("zip_with") <= 1


def test_lang_confusion_never_explodes_the_token_stream(spark):
    plan = _plan(gates.all_queries()["lang_confusion"](spark, SF))
    # lang_id is an in-row fold: no Generate (explode), no Python, no join
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


# ------------------------------------------------- r11 staged tier pins

def test_substring_dedup_duplicated_vocab_is_broadcast(spark):
    plan = _plan(gates.all_queries()["substring_dedup"](spark, SF))
    # the duplicated-shingle vocabulary joins back by BROADCAST hash
    # join on the md5 key, and the span machinery never degenerates to
    # a nested-loop text comparison
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_semdedup_candidates_are_cell_equi_join(spark):
    plan = _plan(gates.all_queries()["semdedup_prune"](spark, SF))
    # pair candidates MUST come from a cid EQUI-join (work =
    # sum(|cell|^2)) — if Catalyst ever loses the equi-key the member
    # self-join degenerates to a nested loop, O(n^2) at scale
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    import re

    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)
    # the ONLY nested-loop joins allowed are the broadcast one-row
    # centroid-frame attaches from assign_centroids (one per
    # assign_centroids call in the composed plan)
    n_bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
    assert n_bnlj <= 3, f"{n_bnlj} nested-loop joins (expected <=3 one-row attaches)"


def test_dsir_model_table_is_broadcast(spark):
    plan = _plan(gates.all_queries()["dsir_weights"](spark, SF))
    # the n_buckets-row model joins back by broadcast — the corpus-side
    # token stream must never shuffle against it
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_spearman_has_no_single_partition_rank_funnel(spark):
    plan = _plan(gates.all_queries()["spearman_corr"](spark, SF))
    # the two-level prefix-sum contract: the ONLY SinglePartition
    # exchanges are the in-plan cardinality guard's sort-free count
    # windows over the bounded rng table (a naive per-group rank window
    # would funnel a third of the corpus through one task —
    # l_returnflag has 3 values), and
    # EVERY window's first two spec args are (group, cell-or-bucket):
    # the histogram windows are (partition g, ORDER BY _cell) over the
    # bounded cell table, the level-2 windows (partition g,_b, order
    # value). A reverted per-group corpus rank would instead show
    # windowspecdefinition(g#, <value col># ...) — caught here.
    import re

    _assert_single_partition_is_guard_only(plan)
    specs = re.findall(r"windowspecdefinition\((\w+)#\d+L?, (\w+)#", plan)
    assert specs, "no windows found — pin is vacuous"
    for first_arg, second_arg in specs:
        assert first_arg == "g", f"window not partitioned by group: {first_arg}"
        # r16 fused joint fold: the corpus-side rank windows partition by
        # (g, per-axis bucket _bx/_by) and the bounded cell-histogram
        # windows by (g, ORDER BY per-axis cell _cx/_cy). A reverted
        # per-group corpus rank would show (g, <value col>) instead.
        assert second_arg in ("_b", "_cell", "_bx", "_by", "_cx", "_cy"), (
            f"window's second spec arg is {second_arg}, not a bounded "
            "cell/bucket key — a per-group corpus-sized rank window has "
            "returned"
        )
    # the order-less whole-partition windows (no attribute after the
    # partition key, so the regex above skips them) are allowed only
    # for the two axis histograms' per-group totals over the BOUNDED
    # cell table — a corpus-sized partition-only window would bump this
    # count with every other assertion still green
    no_order = re.findall(r"windowspecdefinition\(g#\d+L?, specifiedwindowframe", plan)
    assert len(no_order) <= 4, (
        f"{len(no_order)} order-less per-group windows (expected <=4: "
        "one bounded cell-table total per axis cellmap)"
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cross_source_matrix_pairs_are_candidate_bounded(spark):
    plan = _plan(gates.all_queries()["cross_source_dup_matrix"](spark, SF))
    # the source attach and rollups must stay equi-joins over the
    # LSH-bounded pair set — never a nested-loop doc x doc comparison
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_probe_broadcasts_the_word_table(spark):
    plan = _plan(gates.all_queries()["bloom_decontaminate"](spark, SF))
    # the <=256-row word table is broadcast to the probe; the probe side
    # (100 TB of candidates) must never shuffle for the membership test
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_auc_by_group_stays_keyed_and_jvm_side(spark):
    from database_collector_spark.operators.ranking import auc_by_group
    from database_collector_spark.workloads import _t

    docs = _t(spark, SF, "documents")
    from pyspark.sql import functions as F

    scored = docs.select(
        "lang",
        (F.length("text") % 100).alias("score"),
        (F.col("doc_id") % 2).alias("label"),
    )
    plan = _plan(auc_by_group(scored, "lang"))
    # the keyed twin of auc_exact: no single-partition funnel beyond
    # the bounded cardinality-guard windows (every data window keyed by
    # group), no Python, no cartesian
    _assert_single_partition_is_guard_only(plan)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------- r12 staged tier pins

def test_auc_by_group_gate_plan_is_keyed_and_broadcast_attached(spark):
    plan = _plan(gates.all_queries()["auc_by_group"](spark, SF))
    # lang attaches to the scorer via a hash join (broadcast-able at
    # any embedding-corpus size — the dim table is the documents
    # projection); the rank core stays keyed — the only SinglePartition
    # exchanges are the bounded guard windows, like the operator pin
    _assert_single_partition_is_guard_only(plan)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_calibration_curve_windows_are_bucket_bounded(spark):
    plan = _plan(gates.all_queries()["calibration_curve"](spark, SF))
    # the classifier fold is in-row (no token-stream shuffle against a
    # weight table), the binning rides the compressed score domain, and
    # the only SinglePartition exchanges are the documented bounded
    # post-aggregate ones (cell histogram / bucket totals / 1-row
    # count), never a corpus-sized sort
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # count budget alone would admit a corpus-sized single-partition
    # sort as long as the total stayed under 6 — pair it with the
    # structural bounded-input check (r11 ADVICE): children must be
    # aggregates, and the only sorted consumer is the <=65536-row
    # _cell histogram prefix
    assert plan.count("Exchange SinglePartition") <= 6
    _assert_single_partition_inputs_bounded(plan, sorted_key_markers=("_cell#",))


def test_kendall_tau_shares_one_per_group_sort(spark):
    plan = _plan(gates.all_queries()["kendall_tau_banded"](spark, SF))
    # the band expansion is in-row over ONE per-user window sort: no
    # pair join of any kind, no Python, and no single-partition funnel
    # (user_id supplies the parallelism)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange SinglePartition") == 0


def test_source_governance_composition_stays_bounded(spark):
    plan = _plan(gates.all_queries()["source_governance"](spark, SF))
    # the composite may only add |sources|-row joins on top of the
    # stage plans: no cartesian, no Python, and the Hamilton/percentile
    # machinery's bounded windows keep the SinglePartition count small
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # paired with the structural bounded-input check for the same
    # reason as the calibration_curve pin (r11 ADVICE): aggregate (or
    # the |sources|-row quota cross-attach) children only, and the one
    # sorted consumer is the largest-remainder `rem#` quota ranking
    assert plan.count("Exchange SinglePartition") <= 8
    _assert_single_partition_inputs_bounded(
        plan,
        child_markers=("HashAggregate", "BroadcastNestedLoopJoin"),
        sorted_key_markers=("rem#", "_cell#"),
    )


def test_quantiles_by_group_has_no_per_group_value_buffer(spark):
    plan = _plan(gates.all_queries()["quantiles_by_group"](spark, SF))
    # the exact-quartile contract: NO built-in percentile aggregate
    # (its agg buffer holds every group value — the memory cliff this
    # operator exists to avoid), no single-partition funnel, no Python
    assert "percentile" not in plan.lower()
    _assert_single_partition_is_guard_only(plan)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # r15 optimization round: the gate rides rank_select_by_group's
    # two-scan cell refinement — candidate joins broadcast (never a
    # sort-merge of the compressed corpus), and the fixed 65536-cell
    # grid means no corpus-wide shuffle of per-(group, value) rows
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ndcg_quality_windows_are_group_limit_pushed(spark):
    plan = _plan(gates.all_queries()["ndcg_quality"](spark, SF))
    # both top-k windows (the per-lang ranking and the ideal-label
    # ordering) must get Spark's rank-limit pushdown: each task keeps
    # only k rows before the per-group sort, so the corpus never sorts
    # whole-group partitions (partial + final per window = 4 nodes)
    assert plan.count("WindowGroupLimit") >= 4
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_calibration_by_source_stays_keyed(spark):
    plan = _plan(gates.all_queries()["calibration_by_source"](spark, SF))
    # the per-source curves ride the keyed prefix core: only the
    # bounded cardinality-guard single-partition exchanges, no Python,
    # no cartesian, and the classifier fold stays in-row
    _assert_single_partition_is_guard_only(plan)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ----------------------------------------------------- r13 tier pins

def test_bounded_inputs_helper_still_fails_a_corpus_funnel():
    """Negative control for the ±3-line widening (r12 VERDICT #3): the
    classic corpus-funnel signature — a Sort on a data column consuming
    a SinglePartition exchange whose subtree is scan/project, no
    aggregate — must fail BOTH prongs even with wrapper lines inside
    the window; and a bounded plan with an AQE wrapper between the
    exchange and its aggregate child must pass."""
    funnel = "\n".join([
        "Sort [text#7 ASC NULLS FIRST], false, 0",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]",
        "   +- Project [doc_id#1L, text#7]",
        "      +- Filter isnotnull(text#7)",
        "         +- ColumnarToRow",
        "            +- FileScan parquet [doc_id#1L,text#7]",
    ])
    with pytest.raises(AssertionError, match="un-aggregated input"):
        _assert_single_partition_inputs_bounded(funnel)
    # sorted consumer on a data key with an aggregate child: child
    # prong passes, sort-key prong must still catch it
    sorted_data_key = "\n".join([
        "Sort [score#3 ASC NULLS FIRST], false, 0",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=4]",
        "   +- HashAggregate(keys=[score#3], functions=[count(1)])",
    ])
    with pytest.raises(AssertionError, match="corpus-funnel"):
        _assert_single_partition_inputs_bounded(
            sorted_data_key, sorted_key_markers=("_cell#",)
        )
    # a row-multiplying operator between the exchange and the aggregate:
    # the aggregate bounds ITS OWN output, not the exploded rows the
    # exchange actually gathers — must fail the child prong even though
    # an aggregate marker sits within the 3-line window
    exploded = "\n".join([
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]",
        "+- Generate explode(tokens#9), [lang#2], false, [t#12]",
        "   +- HashAggregate(keys=[lang#2], functions=[collect_list(t#5)])",
    ])
    with pytest.raises(AssertionError, match="un-aggregated input"):
        _assert_single_partition_inputs_bounded(exploded)
    # sorted BELOW the exchange (per-partition sort feeding the gather):
    # the effective-child prong fires first — a Sort is not a 1:1
    # passthrough wrapper, so the shape fails as un-aggregated input
    # (and even if Sort were ever whitelisted, the sort-key prong would
    # still catch the data-column key)
    sorted_below = "\n".join([
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]",
        "+- Sort [score#3 ASC NULLS FIRST], false, 0",
        "   +- HashAggregate(keys=[score#3], functions=[count(1)])",
    ])
    with pytest.raises(AssertionError, match="un-aggregated input"):
        _assert_single_partition_inputs_bounded(
            sorted_below, sorted_key_markers=("_cell#",)
        )
    bounded_with_wrapper = "\n".join([
        "Sort [_cell#11L ASC NULLS FIRST], false, 0",
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]",
        "   +- AQEShuffleRead local",
        "      +- HashAggregate(keys=[_cell#11L], functions=[sum(n#2L)])",
    ])
    _assert_single_partition_inputs_bounded(
        bounded_with_wrapper, sorted_key_markers=("_cell#",)
    )


def test_pack_segments_has_no_per_stream_corpus_sort(spark):
    from database_collector_spark.curation import pack_segments
    from database_collector_spark.workloads import _t

    plan = _plan(
        pack_segments(_t(spark, SF, "documents"), budget_tokens=256)
    )
    # the cumulative stream offset rides the two-level prefix core
    # (r12 VERDICT advisory) — a reverted per-stream cumulative sum
    # would show windowspecdefinition(lang#, doc_id# ...) and fail the
    # shared pin's second-arg check; the segment explode adds no join
    _assert_prefix_core_windows(plan, "lang")
    assert "SortMergeJoin" not in plan


def test_pack_sequences_gate_has_no_per_source_corpus_sort(spark):
    plan = _plan(gates.all_queries()["pack_sequences"](spark, SF))
    # the source-domain packing offsets ride the hash-bucketed
    # two-level prefix pass (r13 VERDICT #3: this gate was the second
    # miss): every ordered window is (source, _b)-keyed — the
    # within-bucket running sum on the stream and the carry-in window
    # over the bounded bucket-total table — and the carry table comes
    # back via BROADCAST; a reverted per-source corpus cumsum would
    # render windowspecdefinition(source#, k# ...) and fail the shared
    # pin's second-arg check
    _assert_prefix_core_windows(plan, "source")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_prestage_scan_stays_funnel_free(spark):
    # the shared `sized` frame localCheckpoints (r14 ADVICE: one
    # tokenize scan feeds both the window and the carry aggregate), so
    # q_pack_sequences' own plan shows an ExistingRDD leaf — pin the
    # PRE-checkpoint projection separately: the tokenize must stay
    # fused into the parquet scan with no sort and no single-partition
    # exchange upstream of the checkpoint
    plan = _plan(workloads_text._pack_sized(spark, SF))
    assert "Scan parquet" in plan
    assert "SortExec" not in plan and "Sort " not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_zipf_head_fit_window_is_rank_limit_pushed(spark):
    plan = _plan(gates.all_queries()["zipf_head_fit"](spark, SF))
    # the top-k vocabulary ranking must get Spark's rank-limit pushdown
    # (partial + final WindowGroupLimit): each task keeps k rows before
    # the per-group sort, so the vocabulary never sorts whole-group
    # partitions at any corpus size
    assert plan.count("WindowGroupLimit") >= 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 0


def test_bigram_cond_entropy_has_no_window_and_no_python(spark):
    plan = _plan(gates.all_queries()["bigram_cond_entropy"](spark, SF))
    # pure aggregate pipeline: in-row bigram explode + keyed aggregates
    # over the compressed count table — no window machinery at all (the
    # gate's orderBy is the only sort), no Python, no cartesian
    assert "windowspecdefinition" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 0


def test_embedding_drift_folds_are_keyed_and_broadcast(spark):
    plan = _plan(gates.all_queries()["embedding_drift"](spark, SF))
    # the per-dim sums join the bounded per-group count tables via
    # BROADCAST (the counts are |groups| rows); no Python, no cartesian,
    # no single-partition funnel — (group, dim) supplies the parallelism
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 0


def test_trimmed_mean_has_no_per_priority_corpus_sort(spark):
    plan = _plan(gates.all_queries()["trimmed_mean"](spark, SF))
    # the r13 rewrite: the trim rides value-domain compression + the
    # two-level prefix pass — the old form's per-priority corpus rank
    # window would show windowspecdefinition(o_orderpriority#, cents#)
    _assert_prefix_core_windows(plan, "o_orderpriority")


def test_quantile_norm_has_no_per_type_corpus_sort(spark):
    plan = _plan(gates.all_queries()["quantile_norm"](spark, SF))
    # the r13 rewrite: RANK() = below+1 from the two-level prefix pass,
    # joined back to rows on (type, v) — the old per-type corpus rank
    # would show windowspecdefinition(event_type#, v# ...)
    _assert_prefix_core_windows(plan, "event_type")


def test_key_skew_profile_rank_mass_is_compressed_and_top10_limit_pushed(spark):
    plan = _plan(gates.all_queries()["key_skew_profile"](spark, SF))
    # the r13 rewrite: rank mass rides count-value compression + the
    # prefix pass; the only remaining per-type ordered window is the
    # top-10 branch ("c" second arg), which must carry Spark's
    # rank-limit pushdown (each task keeps 10 rows pre-sort)
    _assert_prefix_core_windows(plan, "event_type", extra_second_args=("c",))
    assert plan.count("WindowGroupLimit") >= 2


def test_approx_quantiles_exact_side_never_buffers_percentile(spark):
    # r14 VERDICT advisory closed r15: the gate's exact q50/bracket used
    # three buffered Percentile aggregates (per-distinct-value maps in
    # every agg buffer — a memory cliff when the value domain is wide).
    # It now rides ranking.rank_select_by_group's two-scan cell
    # refinement; the only sketch left in the plan must be the
    # percentile_approx UNDER TEST, and the candidate joins broadcast.
    from database_collector_spark import workloads_ts

    plan = _plan(gates.all_queries()["approx_quantiles"](spark, SF))
    assert "percentile(" not in plan, "buffered exact Percentile returned"
    assert "percentile_approx" in plan  # the operator under test stays
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_staged_plans_have_no_python_or_cartesian_or_corpus_funnel(gate_plan):
    for name in ("group_mad", "winsorized_mean", "iqr_outlier_report"):
        plan = gate_plan(name)
        assert_no_row_python_or_cartesian(name, plan)
        # the whole point of the tier: candidate joins broadcast; the
        # per-group-window/SMJ funnel shapes must never return
        assert "BroadcastHashJoin" in plan, f"{name}: candidate join not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: SMJ crept in"
