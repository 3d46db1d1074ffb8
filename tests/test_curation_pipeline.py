"""End-to-end curation pipeline (curation.py): quality filter → exact
dedup → split."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from database_collector_spark import curation
from database_collector_spark.operators import text

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_curate_filters_dedups_and_splits(spark):
    docs = _docs(spark)
    out = curation.curate(docs, quality_min=0.3)
    rows = out.collect()
    assert 0 < len(rows) <= docs.count()
    # split covers every surviving row with the three labels only
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # no duplicate texts survive the exact tier
    n_texts = out.select("text").distinct().count()
    assert n_texts == len(rows)
    # every survivor clears the quality bar
    scored = text.quality_score(docs).select("doc_id", "quality_score")
    joined = out.join(scored, "doc_id").filter(F.col("quality_score") < 0.3)
    assert joined.count() == 0


def test_extra_drop_anti_joins(spark):
    docs = _docs(spark)
    base = curation.curate(docs)
    some_ids = base.select("doc_id").limit(5)
    smaller = curation.curate(docs, extra_drop=some_ids)
    assert smaller.count() == base.count() - 5


def test_near_dup_tier_runs_over_survivors(spark):
    # doc 0: 58 unique tokens, no stopwords -> q = 0.29 < 0.3 (dropped by
    # the quality tier). docs 1 and 2 extend it with two stopwords each
    # -> q ~ 0.317 (kept) and are near-dups of each other (jaccard ~0.93)
    # AND of doc 0 (~0.95). Computed over the raw corpus, the cluster
    # {0,1,2} would canonicalize on doc 0 — which quality then removes,
    # silently losing the content. Over the survivors, cluster {1,2}
    # keeps doc 1.
    base = " ".join(f"w{i}" for i in range(58))
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base + " the and", "en", "s", len(base) + 8),
        (2, base + " of to", "en", "s", len(base) + 6),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = curation.curate(docs, quality_min=0.3, near_dup=True)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1}


def test_curate_repetition_gate_drops_boilerplate(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    stops = "the a of and to in is"  # high quality score (all stopwords)
    docs = spark.createDataFrame(
        [
            # varied doc: every bigram distinct -> dup_gram_frac 0
            Row(doc_id=1, text=stops + " x y z w", lang="en", source="s",
                n_chars=30),
            # boilerplate: one phrase repeated -> high dup_gram_frac
            Row(doc_id=2, text=" ".join([stops] * 8), lang="en", source="s",
                n_chars=100),
        ]
    )
    base = {r["doc_id"] for r in curation.curate(docs, quality_min=0.0).collect()}
    assert base == {1, 2}
    gated = {
        r["doc_id"]
        for r in curation.curate(
            docs, quality_min=0.0, repetition_max=0.5
        ).collect()
    }
    assert gated == {1}


def test_curate_expectations_gate_aborts_on_poisoned_fixture(spark):
    # Deequ check semantics one level up: curate() with the expectations
    # gate on must abort BEFORE the quality/dedup/split DAG runs when
    # the ingest is poisoned, and the measured report must travel with
    # the exception (r14 VERDICT #5).
    from database_collector_spark.operators import expectations

    docs = _docs(spark)
    gate = {
        "max_null_frac": {"text": 0.0},
        "unique_keys": {"doc_id": ["doc_id"]},
    }
    # clean fixture: the gate passes and the DAG output is unchanged
    clean = curation.curate(docs, expectations=gate)
    assert clean.count() == curation.curate(docs).count()

    # poison 1: nulled-out text column
    nulled = docs.withColumn(
        "text", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("text"))
    )
    with pytest.raises(expectations.ExpectationViolation) as exc:
        curation.curate(nulled, expectations=gate)
    [v] = exc.value.violations
    assert v["check"] == "max_null_frac" and v["subject"] == "text"
    assert v["measured"]["n_nulls"] > 0

    # poison 2: duplicated doc_id (a re-ingested shard)
    duped = docs.unionByName(docs.limit(3))
    with pytest.raises(expectations.ExpectationViolation) as exc:
        curation.curate(duped, expectations=gate)
    [v] = exc.value.violations
    assert v["check"] == "unique_key" and v["measured"]["n_dup_keys"] == 3
