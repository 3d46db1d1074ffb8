"""End-to-end composition test: the examples/full_pipeline.py flow over
sf0.001 — quality+entropy filters, dedup, leakage-safe split, BPE,
chunking, z-ordered write — all through the public operator API."""

from __future__ import annotations

import os
import tempfile

SF = "/root/testdata/sf0.001"


def test_full_pipeline_end_to_end(spark):
    from examples.full_pipeline import run_pipeline

    with tempfile.TemporaryDirectory() as out:
        stats = run_pipeline(spark, SF, out)
        assert stats["n_raw"] > 0
        assert 0 < stats["n_kept"] <= stats["n_raw"]
        assert stats["n_chunks"] >= stats["n_kept"]
        assert stats["n_merges"] == 8
        assert set(stats["splits"]) <= {"train", "val", "test"}
        assert sum(stats["splits"].values()) == stats["n_kept"]
        assert 0.0 <= stats["clf_keep_frac"] <= 1.0
        assert stats["mixture_oversample"] and all(
            v > 0 for v in stats["mixture_oversample"].values()
        )
        # artifacts on disk, readable, with the expected columns
        curated = spark.read.parquet(f"{out}/curated")
        assert {"doc_id", "split", "n_bpe_tokens", "_zkey"} <= set(curated.columns)
        assert curated.count() == stats["n_kept"]
        chunks = spark.read.parquet(f"{out}/chunks")
        assert {"doc_id", "chunk_idx", "chunk_text", "chunk_len"} <= set(
            chunks.columns
        )


def test_examples_dir_importable_without_side_effects():
    import importlib

    mod = importlib.import_module("examples.full_pipeline")
    assert callable(mod.run_pipeline)


def test_collector_pipeline_example_runs(spark):
    from datetime import timezone

    from examples.collector_pipeline import run_example

    stats = run_example(spark)
    assert stats["targets"] == ["db-mysql", "db-oracle-ee", "db-postgres"]
    assert stats["n_samples"] == 6
    assert stats["prompb_bytes"] > 0
    assert stats["cloudwatch_datums"] == 6
    assert stats["cloudwatch_batches"] == 1
    # parity: both sinks carry the SAME instants (UTC) for the samples
    datum_ms = {
        int(
            __import__("datetime")
            .datetime.fromisoformat(t)
            .timestamp()
            * 1000
        )
        for t in stats["datum_ts_utc"]
    }
    assert datum_ms == set(stats["prompb_ts_ms"])


def test_ann_serving_example_lifecycle(spark, tmp_path):
    # build -> serve -> refresh -> serve, all through the example's
    # public functions; post-refresh results must still rank the
    # appended vectors (they share cells with their neighbors)
    from examples import ann_serving
    from database_collector_spark.workloads import _t
    from pyspark.sql import functions as F

    emb = _t(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "index")
    ann_serving.build_index(emb.filter(F.col("vec_id") % 10 != 0), path)
    before = ann_serving.serve_topk(spark, path, emb.filter(F.col("vec_id") < 5))
    n_before = before.count()
    assert n_before > 0
    appended = ann_serving.refresh_index(
        spark, path, emb.filter(F.col("vec_id") % 10 == 0)
    )
    assert appended > 0
    # the appended codes are actually IN the persisted index...
    stored_ids = {
        r["vec_id"] for r in spark.read.parquet(f"{path}/codes").collect()
    }
    new_ids = {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    }
    assert new_ids <= stored_ids
    # ...and they change serving: query 0 (vec_id 0, held out of the
    # build) now finds candidates that include appended vectors — the
    # top-k row set must differ from the pre-refresh one (topk caps the
    # COUNT, so count equality would be vacuous)
    after = ann_serving.serve_topk(spark, path, emb.filter(F.col("vec_id") < 5))
    before_rows = {tuple(r) for r in before.collect()}
    after_rows = {tuple(r) for r in after.collect()}
    assert after_rows != before_rows
    assert any(vid % 10 == 0 for (_q, _rk, vid, _d) in after_rows)


def test_classifier_eval_example_composes(spark):
    """The classifier-evaluation example: the report's three sections
    are consistent with each other (per-lang pos/neg sums to overall,
    calibration bin counts sum to the scored corpus) and every number
    comes from the same public operators the gates check."""
    from examples.classifier_eval import run_eval

    report = run_eval(spark, "/root/testdata/sf0.001", 10)
    n_pos, n_neg, auc = report["overall"]
    assert n_pos > 0 and n_neg > 0 and 0.0 <= auc <= 1.0
    assert sum(p for _, p, _, _ in report["by_lang"]) == n_pos
    assert sum(n for _, _, n, _ in report["by_lang"]) == n_neg
    cal_n = sum(nd for _, nd, _, _, _, _ in report["calibration"])
    assert cal_n == n_pos + n_neg
    for _, nd, np_, rate, lo, hi in report["calibration"]:
        assert 0 <= np_ <= nd and lo <= hi
        # tolerance, not equality: Spark's HALF_UP round vs Python's
        # round-half-even can disagree by 1 ulp at the 6th decimal on
        # half-boundary ratios (e.g. k/640)
        assert abs(rate - np_ / nd) <= 5e-7


def test_classifier_eval_memo_demo_cold_then_warm(spark):
    """The feature-store demo: four evaluation reads against one
    persisted classifier frame — the first pays the classifier fold, the
    rest read the persisted frame — and teardown leaves no persisted
    frame behind in the session. The lazy local checkpoints inside the
    classifier fold and the AUC operators stay registered as persistent
    RDDs for as long as the JVM keeps their plans, with or without the
    demo, so they are left out of the count."""
    from examples.classifier_eval import demo_feature_store

    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        rdds = jsc.getPersistentRDDs()
        return {
            int(k)
            for k in rdds.keySet().toArray()
            if " at localCheckpoint " not in rdds.get(k).rdd().toDebugString().split("\n")[0]
        }

    before = persisted()
    timings = demo_feature_store(spark, SF)
    assert [name for name, _, _, _ in timings] == [
        "auc_overall",
        "auc_by_lang",
        "class_balance",
        "score_moments",
    ]
    assert all(rows > 0 for _, _, _, rows in timings)
    assert persisted() == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
