"""Dataset-curation operators (workloads_text): stratified sampling,
hash splits, normalization, lexical diversity.

Invariants, not goldens — the DuckDB differential gate pins exact
values; these pin the semantic contracts that must survive refactors.
"""

from __future__ import annotations

import pytest

from database_collector_spark import gates


SF = "/root/testdata/sf0.001"


def test_stratified_sample_exact_k_per_stratum(spark):
    rows = gates.all_queries()["sample_stratified"](spark, SF).collect()
    by_lang: dict[str, list[int]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["rk"])
    totals = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for lang, rks in by_lang.items():
        expected = min(100, totals[lang])
        assert sorted(rks) == list(range(1, expected + 1))


def test_stratified_sample_is_deterministic(spark):
    a = {(r["lang"], r["doc_id"]) for r in gates.all_queries()["sample_stratified"](spark, SF).collect()}
    b = {(r["lang"], r["doc_id"]) for r in gates.all_queries()["sample_stratified"](spark, SF).collect()}
    assert a == b


def test_hash_split_partitions_everything_once(spark):
    rows = gates.all_queries()["hash_split"](spark, SF).collect()
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert {r["split"] for r in rows} == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in rows) == total
    frac = {r["split"]: r["n_docs"] / total for r in rows}
    assert frac["train"] == pytest.approx(204 / 256, abs=0.05)
    assert frac["val"] == pytest.approx(26 / 256, abs=0.03)


def test_normalize_never_grows_text(spark):
    for r in gates.all_queries()["text_normalize"](spark, SF).collect():
        assert r["chars_norm"] <= r["chars_raw"]
        assert r["tokens"] >= r["n_docs"]  # every doc has >=1 token


def test_subtoken_estimate_dominates_word_count(spark):
    # every word contributes >= 1 subtoken, so the estimate never
    # undercounts words; inflation is bounded by the longest-word regime
    for r in gates.all_queries()["token_estimate"](spark, SF).collect():
        assert r["subtokens_est"] >= r["words"]
        assert 1.0 <= r["inflation"] < 10.0


def test_lexical_diversity_bounds(spark):
    for r in gates.all_queries()["lexical_diversity"](spark, SF).collect():
        assert 0 < r["uniq_tokens"] <= r["tokens"]
        assert 0 < r["ttr"] <= 1.0


def test_length_trim_keeps_about_half(spark):
    # [p25, p75] band: about half of each stratum survives (interpolated
    # thresholds can exclude one boundary value on each side), band ordered
    for r in gates.all_queries()["length_trim"](spark, SF).collect():
        assert r["lo"] <= r["hi"]
        assert r["total"] // 2 - 2 <= r["kept"] <= r["total"]


def test_mixture_sample_tracks_recipe_rates(spark):
    for r in gates.all_queries()["mixture_sample"](spark, SF).collect():
        assert 0 <= r["kept"] <= r["total"]
        # small strata: generous tolerance, but the rate must still steer
        assert r["kept"] / r["total"] == pytest.approx(r["rate"], abs=0.25)


def test_crossmodal_join_covers_matched_ids(spark):
    rows = gates.all_queries()["crossmodal_join"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id")
    matched = docs.join(vecs, docs["doc_id"] == vecs["vec_id"]).count()
    assert sum(r["n"] for r in rows) == matched
    assert matched > 0


def test_pack_sequences_chunk_boundaries(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    texts = ["a b c d", "e f g h i", "j k l", "m n o p q r s t u v w x"]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en") for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["chunk_id"])
        for r in curation.pack_sequences(docs, budget_tokens=10).collect()
    }
    # starts at offsets 0, 4, 9, 12 -> chunks 0, 0, 0, 1
    assert got == {0: (4, 0), 1: (5, 0), 2: (3, 0), 3: (12, 1)}


def test_pack_sequences_streams_are_independent(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c", lang="en"),
            Row(doc_id=1, text="x y z", lang="de"),
        ]
    )
    got = {
        (r["lang"], r["doc_id"]): r["chunk_id"]
        for r in curation.pack_sequences(docs, budget_tokens=4).collect()
    }
    # each language stream starts its own chunk 0
    assert got == {("en", 0): 0, ("de", 1): 0}


def test_pack_sequences_windowed_escape_matches_prefix_path(spark):
    """The high-cardinality window escape and the two-level prefix path
    compute the identical pure function of (stream, order, counts)."""
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(["w"] * (1 + (i * 7) % 13)), lang=l)
            for i in range(40)
            for l in (["en"] if i % 3 else ["en", "de"])
        ][:55]
    )
    kw = {"budget_tokens": 16}
    prefix = sorted(
        map(tuple, curation.pack_sequences(docs, **kw).collect())
    )
    windowed = sorted(
        map(
            tuple,
            curation.pack_sequences(docs, windowed_streams=True, **kw).collect(),
        )
    )
    assert prefix == windowed and len(prefix) > 0


def test_pack_segments_windowed_escape_matches_prefix_path(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(chr(97 + j % 5) for j in range(1 + i % 9)), lang=l)
            for i in range(30)
            for l in (["en"] if i % 2 else ["fr"])
        ]
    )
    kw = {"budget_tokens": 7}
    prefix = sorted(map(tuple, curation.pack_segments(docs, **kw).collect()))
    windowed = sorted(
        map(
            tuple,
            curation.pack_segments(docs, windowed_streams=True, **kw).collect(),
        )
    )
    assert prefix == windowed and len(prefix) > 0


def test_pack_sequences_timestamp_order_key_promotes(spark):
    """date/timestamp order keys ride the prefix path via the monotone
    epoch promotion; values match the windowed form on the same key."""
    import datetime as dt

    from pyspark.sql import Row

    from database_collector_spark import curation

    base = dt.datetime(2026, 1, 1)
    docs = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                ts=base + dt.timedelta(seconds=i * 37 % 101, microseconds=i),
                text=" ".join(["t"] * (1 + i % 6)),
                lang="en" if i % 2 else "de",
            )
            for i in range(24)
        ]
    )
    kw = {"budget_tokens": 5, "order_col": "ts"}
    prefix = sorted(
        map(tuple, curation.pack_sequences(docs, **kw).collect())
    )
    windowed = sorted(
        map(
            tuple,
            curation.pack_sequences(docs, windowed_streams=True, **kw).collect(),
        )
    )
    assert prefix == windowed and len(prefix) == 24


def test_pack_sequences_date_order_key_promotes_zone_free(spark):
    """date keys promote via calendar datediff (no session-zone cast —
    r14 review: a DST-gap zone can collapse distinct wall times under a
    timestamp cast); values match the windowed form on the same key."""
    import datetime as dt

    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                d=dt.date(2026, 1, 1) + dt.timedelta(days=(i * 13) % 29),
                text=" ".join(["t"] * (1 + i % 4)),
                lang="en" if i % 2 else "de",
            )
            for i in range(20)
        ]
    )
    kw = {"budget_tokens": 3, "order_col": "d"}
    prefix = sorted(map(tuple, curation.pack_sequences(docs, **kw).collect()))
    windowed = sorted(
        map(
            tuple,
            curation.pack_sequences(docs, windowed_streams=True, **kw).collect(),
        )
    )
    assert prefix == windowed and len(prefix) == 20


def test_pack_sequences_string_order_key_raises_naming_escape(spark):
    import pytest
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [Row(doc_id="a", text="x y", lang="en")]
    )
    with pytest.raises(ValueError, match="windowed_streams=True"):
        curation.pack_sequences(docs, order_col="doc_id")
    # and the named escape actually works for the same input
    got = curation.pack_sequences(
        docs, order_col="doc_id", windowed_streams=True
    ).collect()
    assert [(r["doc_id"], r["chunk_id"]) for r in got] == [("a", 0)]


def test_pack_sequences_duplicate_order_raises(spark):
    import pytest
    from pyspark.sql import Row

    from database_collector_spark import curation

    dup = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b", lang="en"),
            Row(doc_id=1, text="c d", lang="en"),
        ]
    )
    for kw in ({}, {"windowed_streams": True}):
        with pytest.raises(Exception, match="duplicate"):
            curation.pack_sequences(dup, **kw).collect()


def test_leakage_safe_split_keeps_duplicates_together(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    # 30 docs, 10 distinct texts (3 byte-equal copies each): every
    # copy-group must land in exactly one split.
    rows = [Row(doc_id=i, text=f"dup text {i % 10}") for i in range(30)]
    out = curation.leakage_safe_split(spark.createDataFrame(rows)).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["group_key"], set()).add(r["split"])
    assert len(by_group) == 10
    assert all(len(splits) == 1 for splits in by_group.values())


def test_leakage_safe_split_custom_group_key(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from database_collector_spark import curation

    rows = [Row(doc_id=i, text=f"t{i}", url_group=i % 4) for i in range(40)]
    out = curation.leakage_safe_split(
        spark.createDataFrame(rows), group_col=F.col("url_group")
    ).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["group_key"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())


def test_elect_representatives_quality_then_id(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    rows = [
        Row(doc_id=1, grp="g1", q=10),
        Row(doc_id=2, grp="g1", q=30),
        Row(doc_id=3, grp="g1", q=30),  # tie on q -> lower id (2) wins
        Row(doc_id=4, grp="g2", q=5),
    ]
    out = {
        r["grp"]: (r["keeper_id"], r["keeper_quality"], r["n_members"])
        for r in curation.elect_representatives(
            spark.createDataFrame(rows), "grp", "q"
        ).collect()
    }
    assert out["g1"] == (2, 30, 3)
    assert out["g2"] == (4, 5, 1)


def test_elect_representatives_plan_is_aggregate_not_window(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    df = spark.createDataFrame(
        [Row(doc_id=i, grp=f"g{i % 5}", q=i) for i in range(100)]
    )
    plan = (
        curation.elect_representatives(df, "grp", "q")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or "SortAggregate" in plan


def test_kfold_split_null_key_gets_a_fold_not_null(spark):
    """NULL group keys must land deterministically in ONE fold — never
    fold=NULL (which would silently exclude the docs from every fold)."""
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha"),
            Row(doc_id=2, text=None),
            Row(doc_id=3, text=None),
            Row(doc_id=4, text="alpha"),
        ]
    )
    out = curation.kfold_split(docs, k=5).collect()
    folds = {r["doc_id"]: r["fold"] for r in out}
    assert all(f is not None for f in folds.values())
    # all NULL-key docs share one fold (one group), dup texts share theirs
    assert folds[2] == folds[3]
    assert folds[1] == folds[4]
    # group_key output stays faithful: NULL text -> NULL group_key
    gk = {r["doc_id"]: r["group_key"] for r in out}
    assert gk[2] is None and gk[1] is not None


def test_temperature_mixture_matches_python_reference(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            # web: 6 tokens, books: 2, code: 1 — a skewed recipe
            Row(doc_id=1, source="web", text="a b c"),
            Row(doc_id=2, source="web", text="d e f"),
            Row(doc_id=3, source="books", text="g h"),
            Row(doc_id=4, source="code", text="i"),
        ]
    )
    T = 2.0
    got = {r["domain"]: r for r in curation.temperature_mixture(docs, temperature=T).collect()}
    toks = {"web": 6, "books": 2, "code": 1}
    ndocs = {"web": 2, "books": 1, "code": 1}
    total = sum(toks.values())
    pows = {d: (n / total) ** (1.0 / T) for d, n in toks.items()}
    psum = sum(pows.values())
    for d in toks:
        r = got[d]
        assert (r["n_docs"], r["n_tokens"]) == (ndocs[d], toks[d])
        assert abs(r["raw_share"] - toks[d] / total) < 5e-7
        assert abs(r["temp_weight"] - pows[d] / psum) < 5e-7
        assert abs(r["oversample"] - (pows[d] / psum) / (toks[d] / total)) < 5e-4
    # the recipe is a distribution
    assert abs(sum(r["temp_weight"] for r in got.values()) - 1.0) < 2e-6


def test_temperature_mixture_limits(spark):
    from pyspark.sql import Row

    import pytest as _pytest

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="web", text="a b c d e f g h"),
            Row(doc_id=2, source="code", text="i j"),
        ]
    )
    # T=1: temperature weights ARE the natural shares
    t1 = {r["domain"]: r for r in curation.temperature_mixture(docs, temperature=1.0).collect()}
    for r in t1.values():
        assert abs(r["temp_weight"] - r["raw_share"]) < 2e-6
        assert abs(r["oversample"] - 1.0) < 5e-4
    # very high T: approaches uniform — tail domain pulled up toward 0.5
    t9 = {r["domain"]: r for r in curation.temperature_mixture(docs, temperature=1000.0).collect()}
    assert abs(t9["code"]["temp_weight"] - 0.5) < 1e-3
    # tail is up-weighted monotonically in T
    t2 = {r["domain"]: r for r in curation.temperature_mixture(docs, temperature=2.0).collect()}
    assert t1["code"]["temp_weight"] < t2["code"]["temp_weight"] < t9["code"]["temp_weight"]
    with _pytest.raises(ValueError):
        curation.temperature_mixture(docs, temperature=0.0)


def test_corpus_diff_statuses(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    old = spark.createDataFrame(
        [
            Row(doc_id=1, text="same"),
            Row(doc_id=2, text="before"),
            Row(doc_id=3, text="gone"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=1, text="same"),
            Row(doc_id=2, text="after"),
            Row(doc_id=4, text="fresh"),
        ]
    )
    d = curation.corpus_diff(old, new)
    got = {r["doc_id"]: r["status"] for r in d.collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # hash columns are NULL exactly on the absent side
    nulls = {r["doc_id"]: (r["old_h"] is None, r["new_h"] is None) for r in d.collect()}
    assert nulls[3] == (False, True) and nulls[4] == (True, False)
    summary = {
        r["status"]: r["n_docs"]
        for r in curation.corpus_diff_summary(d).collect()
    }
    assert summary == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_corpus_diff_joins_hashes_not_texts(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    old = spark.createDataFrame([Row(doc_id=1, text="a")])
    new = spark.createDataFrame([Row(doc_id=1, text="a")])
    plan = (
        curation.corpus_diff(old, new)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one equi-join on the id; never a nested-loop text comparison
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temperature_mixture_zero_token_domain_is_fail_soft(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="web", text="a b c"),
            Row(doc_id=2, source="empty", text=""),
        ]
    )
    got = {r["domain"]: r for r in curation.temperature_mixture(docs).collect()}
    # zero-token domain: share 0, oversample NULL — never DIVIDE_BY_ZERO
    assert got["empty"]["raw_share"] == 0.0
    assert got["empty"]["oversample"] is None
    assert got["web"]["temp_weight"] == 1.0
    # all-empty corpus degrades to NULL shares, not an abort
    allempty = spark.createDataFrame([Row(doc_id=1, source="s", text="")])
    row = curation.temperature_mixture(allempty).collect()[0]
    assert row["raw_share"] is None and row["temp_weight"] is None


def test_corpus_diff_null_text_is_content_not_absence(spark):
    from pyspark.sql import Row

    from database_collector_spark import curation

    schema = "doc_id long, text string"
    old = spark.createDataFrame([(1, None), (2, None), (3, "x")], schema)
    new = spark.createDataFrame([(1, None), (2, "y"), (3, None)], schema)
    got = {r["doc_id"]: r["status"] for r in curation.corpus_diff(old, new).collect()}
    # NULL text present on both sides is unchanged; NULL<->text is changed
    assert got == {1: "unchanged", 2: "changed", 3: "changed"}


def test_corpus_diff_roundtrip_reconstructs_new_hashes(spark):
    # invariant: old hashes + diff = new hashes
    # (unchanged/changed keep-or-replace, removed deleted, added inserted)
    from pyspark.sql import Row

    from database_collector_spark import curation

    old = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in [(1, "a"), (2, "b"), (3, "c")]]
    )
    new = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in [(1, "a"), (2, "B"), (4, "d")]]
    )
    diff = {r["doc_id"]: r for r in curation.corpus_diff(old, new).collect()}
    rebuilt = {
        i: r["new_h"] for i, r in diff.items() if r["status"] != "removed"
    }
    import hashlib

    expect = {
        i: hashlib.md5(t.encode()).hexdigest()
        for i, t in [(1, "a"), (2, "B"), (4, "d")]
    }
    assert rebuilt == expect
