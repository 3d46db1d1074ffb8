"""The k-means / PQ trainers' two Lloyd paths (single-task numpy kernel
below ``similarity.SMALL_CORPUS_THRESHOLD`` rows, distributed Spark
rounds above it) and the single-task helper behind the kernel. Tests
force a path by patching the threshold: 0 skips the kernel."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from conftest import SF, check
from database_collector_spark import gates
from database_collector_spark.operators import similarity

DIM = 4


def _quantized(spark, corpus):
    return spark.createDataFrame(corpus, "vec_id bigint, qe array<bigint>")


def _embeddings(spark, corpus):
    # v / 2^20 is exact in float32 for these small integers, so
    # with_quantized recovers exactly v
    return spark.createDataFrame(
        [(i, [x / similarity.QUANT_SCALE for x in v]) for i, v in corpus],
        "vec_id bigint, embedding array<float>",
    )


def _count_distributed_runs(mp) -> list:
    """Patch the distributed loop to record each call; returns the log."""
    calls = []
    real = similarity._distributed_lloyd
    mp.setattr(
        similarity,
        "_distributed_lloyd",
        lambda *a, **kw: calls.append(1) or real(*a, **kw),
    )
    return calls


def _train_both_ways(monkeypatch, train):
    """(books on the single-task path, books on the distributed path,
    distributed-loop calls made by the single-task run)."""
    with monkeypatch.context() as mp:
        calls = _count_distributed_runs(mp)
        fast = train()
        fast_fallbacks = len(calls)
        mp.setattr(similarity, "SMALL_CORPUS_THRESHOLD", 0)
        dist = train()
        assert len(calls) == fast_fallbacks + 1
    return fast, dist, fast_fallbacks


corpora = st.integers(0, 9).flatmap(
    lambda n: st.tuples(
        st.lists(st.integers(0, 10_000), min_size=n, max_size=n, unique=True),
        st.lists(
            st.lists(st.integers(-3, 3), min_size=DIM, max_size=DIM),
            min_size=n,
            max_size=n,
        ),
    ).map(lambda t: list(zip(*t)))
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=corpora,
    k=st.integers(1, 4),
    m=st.sampled_from([1, 2, 4]),
    iters=st.integers(1, 3),
)
# ties and duplicate vectors: seeds 0 and 1 are equal, so code 1's
# cluster is empty from the first round on
@example(corpus=[(0, [1, 1, 0, 0]), (1, [1, 1, 0, 0]), (2, [2, 1, 0, 0])], k=2, m=1, iters=2)
# negative half sums: -5/2 -> -3, 5/2 -> 3, -3/2 -> -2
@example(corpus=[(7, [-2, 2, -1, 0]), (3, [-3, 3, -2, 0])], k=1, m=2, iters=1)
# n < k trains k_eff = n
@example(corpus=[(5, [1, 2, 3, 0]), (9, [0, 0, 1, 1])], k=4, m=4, iters=2)
@example(corpus=[], k=3, m=2, iters=2)
def test_fast_and_distributed_lloyd_agree(spark, monkeypatch, corpus, k, m, iters):
    q = _quantized(spark, corpus)
    fast, dist, fallbacks = _train_both_ways(
        monkeypatch,
        lambda: similarity.pq_fit_quantized(q, m=m, k=k, iters=iters, dim=DIM)[1],
    )
    assert fallbacks == 0
    assert fast == dist
    assert len(fast) == m and all(len(b) == min(k, len(corpus)) for b in fast)

    emb = _embeddings(spark, corpus)
    fast, dist, fallbacks = _train_both_ways(
        monkeypatch,
        lambda: similarity.kmeans_fit(emb, k=k, iters=iters, dim=DIM)[1],
    )
    assert fallbacks == 0
    assert fast == dist


@pytest.mark.parametrize("threshold", [similarity.SMALL_CORPUS_THRESHOLD, 0])
def test_lloyd_rounds_half_sums_away_from_zero(spark, monkeypatch, threshold):
    monkeypatch.setattr(similarity, "SMALL_CORPUS_THRESHOLD", threshold)
    corpus = [(0, [-2, 2, -1, 1]), (1, [-3, 3, -2, 0])]
    _, books = similarity.pq_fit_quantized(
        _quantized(spark, corpus), m=1, k=1, iters=1, dim=DIM
    )
    assert books == [[[-3, 3, -2, 1]]]


def test_corpus_above_threshold_falls_back_to_distributed_loop(spark, monkeypatch):
    corpus = [(i, [i % 3, -(i % 2), i % 5 - 2, 1]) for i in range(12)]
    q = _quantized(spark, corpus)
    fast = similarity.pq_fit_quantized(q, m=2, k=3, iters=2, dim=DIM)[1]
    calls = _count_distributed_runs(monkeypatch)
    # 0 < max_rows = 5 < n = 12: the task declines
    monkeypatch.setattr(similarity, "SMALL_CORPUS_THRESHOLD", 6)
    declined = similarity.pq_fit_quantized(q, m=2, k=3, iters=2, dim=DIM)[1]
    assert calls == [1]
    assert declined == fast


def test_lloyd_kernel_declines_components_that_could_overflow_int64():
    fit = similarity._lloyd_kernel(m=1, k=1, iters=1, dim=DIM)
    assert fit(pd.DataFrame({"vec_id": [0], "qe": [[1 << 30, 0, 0, 0]]})) is None
    assert fit(pd.DataFrame({"vec_id": [0], "qe": [[1 << 20, 0, 0, 0]]})) == [
        [[1 << 20, 0, 0, 0]]
    ]


def test_fit_in_one_task_sees_every_partition_in_one_call(spark):
    fit_in_one_task = similarity._fit_in_one_task
    df = spark.range(0, 10, 1, 4)
    assert df.rdd.getNumPartitions() == 4
    # one call sees all 10 rows (a per-partition call would see <= 3)
    assert fit_in_one_task(df, lambda pdf: len(pdf), "bigint", max_rows=10) == 10
    assert fit_in_one_task(df, lambda pdf: len(pdf), "bigint", max_rows=9) is None
    empty = spark.range(0, 0, 1, 4)
    assert fit_in_one_task(empty, lambda pdf: len(pdf), "bigint", max_rows=0) == 0


@pytest.mark.parametrize("gate", ["ann_ivf_kmeans", "ann_ivfpq_adc"])
def test_trainer_gates_match_oracle_on_the_distributed_loop(
    spark, oracle_con, monkeypatch, gate
):
    """The fixture corpus trains in the kernel; with the threshold at 0
    the k-means (both gates) and residual-PQ (``ann_ivfpq_adc``)
    trainers run the distributed loop, and the gate still matches its
    DuckDB oracle."""
    calls = _count_distributed_runs(monkeypatch)
    monkeypatch.setattr(similarity, "SMALL_CORPUS_THRESHOLD", 0)
    df = gates.all_queries()[gate](spark, SF)
    assert calls
    s_cols, s_canon = check.canon_rows(df.columns, [tuple(r) for r in df.collect()])
    rel = oracle_con.execute(gates.all_oracles()[gate])
    o_cols, o_canon = check.canon_rows(
        [d[0] for d in rel.description], rel.fetchall()
    )
    assert s_cols == o_cols and s_canon
    assert check.value_hash(s_canon) == check.value_hash(o_canon)


def _jobs_run_by(spark, group: str, action) -> list[int]:
    """Ids of the jobs ``action()`` runs, tagged with job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("gate, max_jobs", [("ann_pq_codes", 3), ("ann_ivfpq_adc", 5)])
def test_trainer_gates_build_in_few_eager_jobs(spark, gate, max_jobs):
    """Building the gate's DataFrame runs the trainers' eager jobs; a
    collect per Lloyd iteration would push these counts up."""
    jobs = _jobs_run_by(
        spark, f"build-{gate}", lambda: gates.all_queries()[gate](spark, SF)
    )
    assert 0 < len(jobs) <= max_jobs, sorted(jobs)


def test_pq_codes_gate_executes_in_few_tasks(spark):
    """Collecting the built ``ann_pq_codes`` frame runs the encode over
    the corpus partitions, the histogram's one post-shuffle task and the
    codebook broadcast's one ``LocalTableScan`` task. A codebook frame
    over a parallelized Python RDD would add a task per default
    partition."""
    sc = spark.sparkContext
    df = gates.all_queries()["ann_pq_codes"](spark, SF)
    jobs = _jobs_run_by(spark, "execute-ann_pq_codes", df.collect)
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = [
        store.lastStageAttempt(sid)
        for job in jobs
        for sid in tracker.getJobInfo(job).stageIds
    ]
    tasks = sum(
        st.numCompleteTasks() for st in stages if st.status().toString() != "SKIPPED"
    )
    assert 0 < tasks <= sc.defaultParallelism + 2
