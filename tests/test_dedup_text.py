"""Unit tests for dedup + text operators on hand-checkable micro-fixtures."""

from __future__ import annotations

from pyspark.sql import Row

from conftest import SF
from database_collector_spark import gates
from database_collector_spark.operators import dedup, text


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in enumerate(texts)]
    )


def test_exact_dedup_groups(spark):
    d = _docs(spark, ["a b c", "a b c", "x y z"])
    got = {r["canonical_doc_id"]: r["n_docs"] for r in dedup.exact_dedup(d).collect()}
    assert got == {0: 2, 2: 1}


def test_shingles_content_and_short_doc_guard(spark):
    d = _docs(spark, ["a b c d", "a b"])  # second is shorter than n=3
    got = {(r["doc_id"], r["shingle"]) for r in dedup.shingles(d).collect()}
    assert got == {(0, "a b c"), (0, "b c d")}


def test_minhash_identical_docs_share_all_bands(spark):
    d = _docs(spark, ["w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5", "q1 q2 q3 q4 q5"])
    pairs = dedup.minhash_lsh_dedup(d, threshold=0.99).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(0, 1, 1.0)]


def test_minhash_near_dup_caught(spark):
    base = " ".join(f"w{i}" for i in range(40))
    near = base + " extra"  # one trailing token changed -> jaccard ~ 0.95
    d = _docs(spark, [base, near, " ".join(f"z{i}" for i in range(40))])
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_dedup(d, threshold=0.8).collect()}
    assert (0, 1) in pairs
    assert all(p[1] != 2 and p[0] != 2 for p in pairs)


def test_ngram_jaccard_exact_value(spark):
    # doc0 shingles: {a b c, b c d}; doc1: {a b c}; shared=1, union=2 -> 0.5
    d = _docs(spark, ["a b c d", "a b c"])
    got = dedup.ngram_jaccard_pairs(d, threshold=0.3).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(0, 1, 0.5)]


def test_ngram_jaccard_df_max_suppresses_hot_shingle(spark):
    # 12 docs share ONLY the boilerplate shingle "all rights reserved"
    # (DF 12); each doc is otherwise unique. Uncapped blocking generates
    # 12*11/2 = 66 candidate pairs from that single bucket; df_max below
    # the bucket size drops it entirely.
    texts = [f"all rights reserved u{i} v{i} w{i}" for i in range(12)]
    # plus one genuine near-dup pair sharing rare shingles
    base = " ".join(f"t{i}" for i in range(20))
    texts += [base, base + " tail"]
    d = _docs(spark, texts)

    uncapped = dedup.ngram_jaccard_pairs(d, threshold=0.0, df_max=None).collect()
    capped = dedup.ngram_jaccard_pairs(d, threshold=0.0, df_max=8).collect()
    boiler = {(r["doc_a"], r["doc_b"]) for r in uncapped if r["doc_a"] < 12 and r["doc_b"] < 12}
    assert len(boiler) == 66  # the blow-up the cap exists to prevent
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert not any(a < 12 and b < 12 for a, b in capped_pairs)
    assert (12, 13) in capped_pairs  # rare-shingle near-dup survives


def test_ngram_jaccard_capped_is_lower_bound(spark):
    # two docs share a hot shingle AND rare shingles: with the hot one
    # dropped, shared shrinks but denominators stay full-set sizes
    texts = ["h h h a b c", "h h h a b x"] + [f"h h h p{i} q{i} r{i}" for i in range(6)]
    d = _docs(spark, texts)
    full = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(d, threshold=0.0, df_max=None).collect()}
    capped = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in dedup.ngram_jaccard_pairs(d, threshold=0.0, df_max=4).collect()}
    assert capped[(0, 1)] < full[(0, 1)]


def test_simhash_pairs_identical_docs_at_hamming_zero(spark):
    d = _docs(spark, ["a b c d e f g h", "a b c d e f g h", "q r s t u v w x"])
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(d).collect()
    }
    assert got.get((0, 1)) == 0
    # the unrelated doc must not pair with either twin inside the ball
    assert (0, 2) not in got and (1, 2) not in got


def test_simhash_pairs_matches_brute_force(spark):
    # blocking is pigeonhole-lossless: bucketed pairs == all-pairs truth
    texts = [f"tok{i} tok{i+1} tok{i+2} shared common words here" for i in range(8)]
    d = _docs(spark, texts)
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 2
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(d).collect()
    }
    assert got == brute


def test_decontaminate_flags_overlap_only(spark):
    corpus = _docs(spark, [
        "alpha beta gamma delta epsilon zeta",   # shares a 4-gram with bench
        "one two three four five six seven",     # clean
    ])
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta other words here", "en", "s", 38)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r["n_hit_shingles"]
           for r in dedup.decontaminate(corpus, bench, n=4).collect()}
    # doc 0 shares exactly one distinct 4-gram: "alpha beta gamma delta"
    assert got == {0: 1}


def test_incremental_pairs_cross_side_only(spark):
    from pyspark.sql import Row as R

    base = "the quick brown fox jumps over the lazy dog again and again"
    mk = lambda rows: spark.createDataFrame(
        [R(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in rows]
    )
    # corpus holds doc 1; the new batch holds two identical copies of the
    # same text (10, 11) plus an unrelated doc (12)
    corpus = mk([(1, base)])
    new = mk([(10, base), (11, base), (12, "completely different words here indeed")])
    got = {
        (r["new_doc"], r["corpus_doc"]): r["jaccard"]
        for r in dedup.incremental_minhash_pairs(new, corpus).collect()
    }
    # both identical new docs match the corpus doc at jaccard 1.0 ...
    assert got == {(10, 1): 1.0, (11, 1): 1.0}
    # ... and the new x new duplicate pair (10, 11) was never formed


def test_simhash_identical_docs_equal_hash(spark):
    d = _docs(spark, ["a b c d e", "a b c d e", "p q r s t"])
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]
    assert 0 <= got[0] < 2**16


def test_token_stats_values(spark):
    d = _docs(spark, ["aa bb aa"])
    row = text.token_stats(d).collect()[0]
    assert row["n_tokens"] == 3
    assert row["n_distinct_tokens"] == 2
    assert row["n_chars"] == 8
    assert row["type_token_ratio"] == round(2 / 3, 4)
    assert row["avg_token_len"] == 2.0


def test_repetition_stats_values(spark):
    # "a b a b a b": bigrams = [a b, b a, a b, b a, a b]
    # n_grams=5, top ("a b")=3, distinct=2 -> dup = 5-2 = 3
    d = _docs(spark, ["a b a b a b", "x"])
    rows = text.repetition_stats(d).collect()
    assert len(rows) == 1  # the 1-token doc has no bigrams and is dropped
    r = rows[0]
    assert (r["n_grams"], r["top_gram_n"], r["dup_gram_n"]) == (5, 3, 3)
    assert r["top_gram_frac"] == 0.6
    assert r["dup_gram_frac"] == 0.6


def test_repetition_stats_all_unique(spark):
    r = text.repetition_stats(_docs(spark, ["q w e r t y"])).collect()[0]
    assert (r["n_grams"], r["top_gram_n"], r["dup_gram_n"]) == (5, 1, 0)
    assert r["top_gram_frac"] == 0.2
    assert r["dup_gram_frac"] == 0.0


def test_lang_id_votes_and_unknown(spark):
    d = _docs(spark, ["the cat and the dog", "el perro que ladra", "zz yy xx"])
    got = {r["doc_id"]: (r["pred_lang"], r["votes"]) for r in text.lang_id(d).collect()}
    assert got[0] == ("en", 3)  # the, and, the
    assert got[1] == ("es", 2)  # el, que
    assert got[2] == ("unknown", 0)


def test_lang_id_tie_breaks_alphabetically(spark):
    d = _docs(spark, ["the el"])  # 1 en vote, 1 es vote -> 'en' wins (asc)
    assert text.lang_id(d).collect()[0]["pred_lang"] == "en"


def test_quality_score_formula(spark):
    d = _docs(spark, ["the " * 49 + "the"])  # 50 tokens, all stopwords
    row = text.quality_score(d).collect()[0]
    assert row["n_tokens"] == 50
    assert row["n_stopwords"] == 50
    assert row["stopword_ratio"] == 1.0
    assert row["quality_score"] == round(0.5 * 0.5 + 0.5 * 1.0, 4)


def test_fingerprint_shared_substring_detected(spark):
    """Winnowing guarantee: docs sharing a long substring share at least
    one selected fingerprint (k=8, w=4 -> any common run >= 11 chars)."""
    d = _docs(
        spark,
        [
            "unique prefix COMMONSUBSTRINGHERE",
            "COMMONSUBSTRINGHERE other suffix",
            "totally different content",
        ],
    )
    rows = text.fingerprint(d).collect()
    assert {r["doc_id"] for r in rows} == {0, 1, 2}
    assert all(r["n_fingerprints"] >= 1 for r in rows)


def test_simhash_pairs_nondivisible_bits_still_lossless(spark):
    # bits=16, max_hamming=4 -> 5 blocks of widths 4,3,3,3,3: every block
    # non-empty, blocking still == brute force
    texts = [f"tok{i} tok{i+1} tok{i+2} shared common words here" for i in range(6)]
    d = _docs(spark, texts)
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(d, max_hamming=4).collect()
    }
    assert got == brute


def test_simhash_pairs_rejects_impossible_params(spark):
    import pytest

    d = _docs(spark, ["a b c d e f"])
    with pytest.raises(ValueError):
        dedup.simhash_pairs(d, bits=5)
    with pytest.raises(ValueError):
        dedup.simhash_pairs(d, bits=4, max_hamming=4)


def test_span_dedup_keeps_first_occurrence_and_reassembles(spark):
    # doc 1: spans A B ; doc 2: spans B C (B = exact repeat of doc 1's
    # second span) ; doc 3: all spans already seen -> drops out entirely
    a = "a1 a2 a3 a4 a5 a6 a7 a8"
    b = "b1 b2 b3 b4 b5 b6 b7 b8"
    c = "c1 c2"  # short tail span
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{b} {c}"), (3, b)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.span_dedup(docs).collect()}
    assert rows[1]["n_spans"] == 2 and rows[1]["kept_spans"] == 2
    assert rows[1]["text_dedup"] == f"{a} {b}"
    # doc 2 lost span B (first seen in doc 1), kept its tail
    assert rows[2]["n_spans"] == 2 and rows[2]["kept_spans"] == 1
    assert rows[2]["text_dedup"] == c
    # doc 3 was entirely duplicate spans -> not in the output
    assert 3 not in rows


def test_span_dedup_within_doc_repeat(spark):
    # the SAME span repeated inside one document is also deduped (first
    # occurrence by (doc_id, span_idx) order)
    a = "x1 x2 x3 x4 x5 x6 x7 x8"
    docs = spark.createDataFrame([(7, f"{a} {a}")], "doc_id long, text string")
    row = dedup.span_dedup(docs).collect()[0]
    assert row["n_spans"] == 2 and row["kept_spans"] == 1
    assert row["text_dedup"] == a


def test_fuzzy_pairs_blocking_and_distance(spark):
    from database_collector_spark.operators.dedup import fuzzy_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # 3 edits in pfx
            (3, "a completely different document altogether xx"),
            (4, "tiny"),  # far-away length bucket: never a candidate
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["distance"]
        for r in fuzzy_pairs(docs).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 5
    assert all(4 not in p for p in pairs)
    assert (1, 3) not in pairs


def test_fuzzy_pairs_is_equi_join_not_cartesian(spark):
    from database_collector_spark.operators.dedup import fuzzy_pairs
    from database_collector_spark.workloads import _t

    plan = (
        fuzzy_pairs(_t(spark, "/root/testdata/sf0.001", "documents"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_pairs_rejects_lossy_budget(spark):
    import pytest

    from database_collector_spark.operators.dedup import fuzzy_pairs

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(AssertionError, match="adjacent-bucket"):
        fuzzy_pairs(docs, max_distance=9, bucket_width=8)


def test_fuzzy_pairs_lossless_across_bucket_boundary(spark):
    # lengths 39 vs 43 straddle the width-8 bucket boundary (4 vs 5);
    # the pair is 4 insertions apart and MUST be found via the adjacent-
    # bucket probe — the losslessness contract |len diff| <= distance
    from database_collector_spark.operators.dedup import fuzzy_pairs

    docs = spark.createDataFrame(
        [(1, "x" * 39), (2, "x" * 43)], "doc_id long, text string"
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["distance"]
        for r in fuzzy_pairs(docs).collect()
    }
    assert pairs == {(1, 2): 4}


def _brute_jaccard_pairs(rows, t, shingle=None):
    import itertools

    def elems(txt):
        ws = txt.split(" ")
        if shingle:
            return {
                " ".join(ws[i : i + shingle])
                for i in range(len(ws) - shingle + 1)
            }
        return {w for w in ws if w}

    out = {}
    for (ia, ta), (ib, tb) in itertools.combinations(
        sorted((r.doc_id, r.text) for r in rows), 2
    ):
        sa, sb = elems(ta), elems(tb)
        inter = len(sa & sb)
        un = len(sa | sb)
        if un and inter / un >= t:
            out[(ia, ib)] = (inter, un)
    return out


def test_set_similarity_join_matches_brute_force_words(spark):
    rows = [
        Row(doc_id=1, text="a b c d e"),
        Row(doc_id=2, text="a b c d f"),     # J=4/6 vs 1
        Row(doc_id=3, text="a b c d e"),     # identical to 1
        Row(doc_id=4, text="x y z"),
        Row(doc_id=5, text="x y z q"),       # J=3/4 vs 4
        Row(doc_id=6, text="p"),
    ]
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["un"])
        for r in dedup.set_similarity_join(
            spark.createDataFrame(rows), threshold_num=6, threshold_den=10
        ).collect()
    }
    assert got == _brute_jaccard_pairs(rows, 0.6)
    # jacc_ppb spot check: identical docs -> exactly 1e9
    full = dedup.set_similarity_join(
        spark.createDataFrame(rows), threshold_num=6, threshold_den=10
    ).collect()
    ppb = {(r["doc_a"], r["doc_b"]): r["jacc_ppb"] for r in full}
    assert ppb[(1, 3)] == 1_000_000_000
    assert ppb[(4, 5)] == 3 * 1_000_000_000 // 4


def test_set_similarity_join_shingles_and_short_docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over"),
        Row(doc_id=2, text="the quick brown fox jumps again"),
        Row(doc_id=3, text="to be"),  # shorter than one 3-shingle
    ]
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter"], r["un"])
        for r in dedup.set_similarity_join(
            spark.createDataFrame(rows),
            threshold_num=5,
            threshold_den=10,
            shingle_words=3,
        ).collect()
    }
    assert got == _brute_jaccard_pairs(rows, 0.5, shingle=3)
    assert got[(1, 2)] == (3, 5)


def test_lsh_tune_midpoint_tracks_threshold():
    from database_collector_spark.operators.dedup import lsh_tune

    b, r = lsh_tune(128, 0.8)
    assert b * r <= 128 and b >= 1 and r >= 1
    # the curve's 50% point (1/b)^(1/r) should land near the threshold
    mid = (1.0 / b) ** (1.0 / r)
    assert abs(mid - 0.8) < 0.1


def test_lsh_tune_higher_threshold_wants_longer_rows():
    from database_collector_spark.operators.dedup import lsh_tune

    _, r_low = lsh_tune(128, 0.5)
    _, r_high = lsh_tune(128, 0.9)
    assert r_high > r_low


def test_lsh_tune_fn_weight_pushes_toward_recall():
    from database_collector_spark.operators.dedup import lsh_tune

    b_bal, r_bal = lsh_tune(128, 0.8, fp_weight=0.5, fn_weight=0.5)
    b_rec, r_rec = lsh_tune(128, 0.8, fp_weight=0.1, fn_weight=0.9)
    # recall-heavy tuning lowers the curve midpoint (catches more):
    mid = lambda b, r: (1.0 / b) ** (1.0 / r)
    assert mid(b_rec, r_rec) <= mid(b_bal, r_bal)


def test_boundary_overlap_pairs_detects_shard_splits(spark):
    from pyspark.sql import Row

    from database_collector_spark.operators.dedup import boundary_overlap_pairs

    docs = spark.createDataFrame(
        [
            # doc 1's tail == doc 2's head (4-word overlap window)
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta"),
            Row(doc_id=2, text="epsilon zeta eta theta iota kappa"),
            # unrelated doc
            Row(doc_id=3, text="one two three four five six"),
            # doc too short for a window
            Row(doc_id=4, text="tiny doc"),
            # doc 5 is doc 3's tail -> ordered pair (3, 5), never (5, 3)
            Row(doc_id=5, text="three four five six seven eight"),
        ]
    )
    out = sorted(
        (r["doc_a"], r["doc_b"], r["overlap"])
        for r in boundary_overlap_pairs(docs, k=4).collect()
    )
    assert out == [
        (1, 2, "epsilon zeta eta theta"),
        (3, 5, "three four five six"),
    ]


def test_boundary_overlap_pairs_no_self_and_identical_docs_both_ways(spark):
    from pyspark.sql import Row

    from database_collector_spark.operators.dedup import boundary_overlap_pairs

    # identical docs whose tail == own head (cyclic text): both ordered
    # pairs emitted, but never (d, d) self-pairs
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d a b c d"),
            Row(doc_id=2, text="a b c d a b c d"),
        ]
    )
    out = sorted(
        (r["doc_a"], r["doc_b"])
        for r in boundary_overlap_pairs(docs, k=4).collect()
    )
    assert out == [(1, 2), (2, 1)]


def test_boundary_overlap_pairs_tolerates_docs_shorter_than_k(spark):
    # regression: the size >= k guard does not stop codegen from
    # evaluating the tail slice as a shared subexpression inside the
    # Filter stage; with a 2-word doc the slice start went non-positive
    # and aborted the whole job before the greatest() floor
    from database_collector_spark.operators.dedup import boundary_overlap_pairs

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b"),  # shorter than k: no window, no crash
            Row(doc_id=2, text="w x y z tail one two three"),
            Row(doc_id=3, text="tail one two three p q r s"),
        ]
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["overlap"]
        for r in boundary_overlap_pairs(docs, k=4).collect()
    }
    assert got == {(2, 3): "tail one two three"}


def test_zipf_head_fit_slopes_are_negative_at_fixture_scale(spark):
    """Counts in the head strictly decrease with rank by construction,
    so every language's fitted slope must be negative (a zero/positive
    slope would mean a degenerate all-equal head — worth noticing)."""
    rows = gates.all_queries()["zipf_head_fit"](spark, SF).collect()
    assert rows and all(
        r["slope"] is None or r["slope"] < 0 for r in rows
    )
    assert any(r["slope"] is not None for r in rows)
