"""Unit pins for the r10 persistence tier: IVF index save/load,
persisted-signature incremental dedup, and the HLL merge property —
the operator-level claims the staged differentials rely on."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF
from database_collector_spark import gates
from database_collector_spark.operators import dedup, similarity, sketches


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_ivf_index_roundtrip_is_lossless(spark):
    emb = _emb(spark)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/index"
        similarity.ivf_index_save(emb, path, k=8, iters=3)
        cents, cells = similarity.ivf_index_load(spark, path)
        # centroids reload exactly (integers; parquet is lossless)
        assert cents == similarity.kmeans_fit(emb, k=8, iters=3)[1]
        # cells reload exactly: same rows as an in-memory build
        mem = similarity.assign_centroids(
            similarity.with_quantized(emb).select("vec_id", "qe", "qnorm2"),
            cents,
        )
        got = {
            r["vec_id"]: (list(r["qe"]), r["qnorm2"], r["cid"])
            for r in cells.collect()
        }
        want = {
            r["vec_id"]: (list(r["qe"]), r["qnorm2"], r["cid"])
            for r in mem.collect()
        }
        assert got == want


def test_ivf_cells_layout_prunes_by_cid(spark):
    # the at-rest layout claim: a probe filtering one cell must read one
    # cell's partition directory, not the corpus (PartitionFilters on cid)
    emb = _emb(spark)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/index"
        similarity.ivf_index_save(emb, path, k=8, iters=3)
        _, cells = similarity.ivf_index_load(spark, path)
        plan = (
            cells.filter(F.col("cid") == 3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [isnotnull(cid" in plan
        # cid partition directories actually exist on disk
        assert any(
            d.startswith("cid=") for d in os.listdir(f"{path}/cells")
        )


def test_incremental_signature_pairs_equals_recompute(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/sigs"
        dedup.minhash_signatures(corpus).write.parquet(path)
        stored = spark.read.parquet(path)
        via_store = {
            (r["new_doc"], r["corpus_doc"], r["jaccard"])
            for r in dedup.incremental_signature_pairs(
                new, stored, corpus
            ).collect()
        }
    recompute = {
        (r["new_doc"], r["corpus_doc"], r["jaccard"])
        for r in dedup.incremental_minhash_pairs(new, corpus).collect()
    }
    assert via_store == recompute
    assert len(recompute) > 0


def test_hll_merge_of_halves_equals_whole(spark):
    # the mergeability contract behind hll_mergeable_rollup: partial
    # registers over any split of the input merge (max) to exactly the
    # registers of the whole
    df = spark.range(2000).select(
        (F.col("id") % 2).alias("half"), F.col("id").alias("item")
    )
    partials = sketches.hll_partial_registers(
        df, ["half"], "item", salt="t"
    )
    merged = sketches.merge_hll_registers(
        partials.drop("half").withColumn("g", F.lit(1)), ["g"]
    )
    whole = sketches.hll_partial_registers(
        df.withColumn("g", F.lit(1)), ["g"], "item", salt="t"
    )
    got = {(r["reg"], r["rho"]) for r in merged.collect()}
    want = {(r["reg"], r["rho"]) for r in whole.collect()}
    assert got == want


def test_hll_finalize_linear_counting_small_range(spark):
    # 10 distinct items through 256 registers: raw HLL would sit near
    # alpha*m ~ 181; linear counting must bring the estimate to ~10
    df = spark.range(10).select(F.lit(1).alias("g"), F.col("id").alias("item"))
    fin = sketches.hll_finalize(
        sketches.hll_partial_registers(df, ["g"], "item", salt="t"), ["g"]
    ).collect()[0]
    assert fin["n_regs"] <= 10
    assert abs(fin["est_users"] - 10) <= 2


def test_ivfpq_probe_is_broadcast_celljoined(spark):
    # the IVFADC probe's scan bound is the whole point: the query side
    # must reach the codes through a BROADCAST equi-join on cid (work =
    # sum over probed cells), never a sort-merge shuffle of the corpus
    # or a cartesian against every query
    plan = (
        gates.all_queries()["ann_ivfpq_adc"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_quotas_sum_exactly_to_budget(spark):
    # the largest-remainder contract on the real fixture: integer quotas,
    # sum EXACTLY equals the budget (floating shares can't give this)
    from database_collector_spark.workloads_text import _TOKEN_BUDGET

    rows = gates.all_queries()["token_budget_alloc"](spark, SF).collect()
    assert rows, "empty allocation"
    assert sum(r["quota"] for r in rows) == _TOKEN_BUDGET
    # monotone: a strictly larger weight never receives a smaller quota
    by_wt = sorted(rows, key=lambda r: r["wt"])
    for a, b in zip(by_wt, by_wt[1:]):
        if b["wt"] > a["wt"]:
            assert b["quota"] >= a["quota"], (a, b)


def test_source_percentile_filter_keeps_top_share_per_source(spark):
    from database_collector_spark.workloads_text import _FILTER_CUT
    from database_collector_spark.workloads import _t

    kept = gates.all_queries()["source_percentile_filter"](spark, SF)
    per_kept = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    per_all = {
        r["source"]: r["n"]
        for r in _t(spark, "/root/testdata/sf0.001", "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(per_kept) == set(per_all)
    for src, n in per_all.items():
        # cume_dist > CUT with a tie-free order keeps exactly
        # n - floor(CUT * n) documents
        import math

        assert per_kept[src] == n - math.floor(_FILTER_CUT * n), src


def test_hop_expand_equals_bruteforce_containment(spark):
    # for divisible (window, hop) pairs, hop_expand must generate EXACTLY
    # the hop-aligned windows containing each event — including negative
    # epochs, where floor alignment (pmod) differs from trunc
    import random

    rng = random.Random(910)
    ss = [rng.randint(-100_000, 100_000) for _ in range(200)] + [0, -1, 1]
    for window_s, hop_s in ((3600, 900), (600, 600), (900, 300)):
        df = spark.createDataFrame([(s,) for s in ss], "s long")
        got = {
            (r["s"], r["win_s"])
            for r in sketches.hop_expand(
                df, window_s=window_s, hop_s=hop_s
            ).collect()
        }
        want = {
            (s, w)
            for s in ss
            for w in range(
                ((s - window_s) // hop_s + 1) * hop_s, s + 1, hop_s
            )
            if w <= s < w + window_s
        }
        assert got == want, (window_s, hop_s)


def test_hop_expand_rejects_nondivisible_pairs(spark):
    import pytest as _pytest

    df = spark.range(1).select(F.col("id").alias("s"))
    with _pytest.raises(ValueError, match="not a multiple"):
        sketches.hop_expand(df, window_s=3600, hop_s=1000)


@pytest.fixture(scope="module")
def ivfpq_index(spark, tmp_path_factory):
    # built ONCE for the module: ivfpq_index_save is the most expensive
    # call in this file (coarse Lloyd + four subspace trainings), and
    # both the round-trip and the pruning test only READ the artifacts
    from database_collector_spark.workloads import _t

    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    similarity.ivfpq_index_save(
        _t(spark, "/root/testdata/sf0.001", "embeddings"), path
    )
    return path


def test_ivfpq_index_roundtrip_serves_identical_probe(spark, ivfpq_index):
    # reload the persisted IVFADC composite and serve the probe entirely
    # from the loaded artifacts: results must be bit-identical to the
    # in-memory chain (everything is exact integers, so any lossy
    # round-trip or artifact skew flips a rank or distance)
    from database_collector_spark.workloads import _t

    sf = "/root/testdata/sf0.001"
    emb = _t(spark, sf, "embeddings")
    cents, books, codes = similarity.ivfpq_index_load(spark, ivfpq_index)

    queries = similarity.residualize(emb.filter(F.col("vec_id") < 10), cents).select(
        F.col("vec_id").alias("q_id"), "cid", F.col("qe").alias("q_qe")
    )
    served = similarity.pq_adc_topk(codes, queries, books, topk=3, cell_col="cid")
    want = {tuple(r) for r in gates.all_queries()["ann_ivfpq_adc"](spark, sf).collect()}
    got = {tuple(r) for r in served.collect()}
    assert got == want


def test_ivfpq_codes_layout_prunes_by_cid(spark, ivfpq_index):
    codes = spark.read.parquet(f"{ivfpq_index}/codes")
    plan = (
        codes.filter(F.col("cid") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(cid" in plan, plan[:800]


def test_ivfpq_index_load_rejects_partial_index(spark, tmp_path):
    # a save killed between the centroid write and the codebook write
    # leaves a partial index; the loader must say so, not crash on
    # max() of an empty sequence
    path = str(tmp_path / "partial")
    similarity._centroid_frame(spark, [[1] * 64]).write.parquet(f"{path}/centroids")
    spark.createDataFrame([], "j int, code int, c array<bigint>").write.parquet(
        f"{path}/codebooks"
    )
    with pytest.raises(ValueError, match="incomplete IVFPQ index"):
        similarity.ivfpq_index_load(spark, path)


def test_ivf_index_load_rejects_partial_index(spark, tmp_path):
    path = str(tmp_path / "partial_ivf")
    spark.createDataFrame([], "cid int, c array<bigint>").write.parquet(
        f"{path}/centroids"
    )
    with pytest.raises(ValueError, match="incomplete IVF index"):
        similarity.ivf_index_load(spark, path)


def test_hop_and_day_alignment_matches_duckdb_on_negative_epochs(spark):
    # DuckDB // TRUNCATES toward zero (-7 // 2 = -3) while the Spark
    # side floor-aligns via pmod; the r10 HLL oracles therefore
    # floor-align with the pmod idiom instead of bare //. Pin the
    # cross-engine agreement on epochs the fixtures never carry
    # (pre-1970), where trunc and floor diverge.
    import duckdb

    ss = [-129600, -100, -1, 0, 1, 899, 900, -900, -901, 1717236000]
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT unnest(?) AS s", [ss])
    oracle_wins = set(
        con.execute(
            "SELECT s, (s - ((s % 900) + 900) % 900) - hop.h * 900"
            " FROM e, (SELECT unnest(generate_series(0, 3)) AS h) hop"
        ).fetchall()
    )
    df = spark.createDataFrame([(s,) for s in ss], "s long")
    spark_wins = {
        (r["s"], r["win_s"])
        for r in sketches.hop_expand(df, window_s=3600, hop_s=900).collect()
    }
    assert spark_wins == oracle_wins

    oracle_days = set(
        con.execute(
            "SELECT s, (s - ((s % 86400) + 86400) % 86400) // 86400 FROM e"
        ).fetchall()
    )
    day = ((F.col("s") - F.pmod(F.col("s"), 86400)) / F.lit(86400)).cast("long")
    spark_days = {
        (r["s"], r["day"]) for r in df.select("s", day.alias("day")).collect()
    }
    assert spark_days == oracle_days
