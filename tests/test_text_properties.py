"""Property-based invariants for the text/curation extension operators
(SURVEY.md §5 item 5 style): random token streams through the real Spark
transforms, checked against a plain-Python reference implementation.

Hypothesis drives input generation only; example counts stay modest —
each example is a full Spark job.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from database_collector_spark import curation
from database_collector_spark.operators import text

token = st.text(alphabet="abcxyz", min_size=1, max_size=3)
doc_tokens = st.lists(token, min_size=2, max_size=30)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(doc_tokens, min_size=1, max_size=4))
def test_repetition_stats_matches_python_reference(spark, docs):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["top_gram_n"], r["dup_gram_n"])
        for r in text.repetition_stats(df).collect()
    }
    for i, toks in enumerate(docs):
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        counts = Counter(grams)
        assert got[i] == (
            len(grams),
            max(counts.values()),
            len(grams) - len(counts),
        )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(doc_tokens, min_size=1, max_size=6),
    budget=st.integers(min_value=1, max_value=40),
)
def test_pack_sequences_invariants(spark, docs, budget):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks), lang="en") for i, toks in enumerate(docs)]
    )
    rows = sorted(
        curation.pack_sequences(df, budget_tokens=budget).collect(),
        key=lambda r: r["doc_id"],
    )
    # every doc assigned exactly once, in order
    assert [r["doc_id"] for r in rows] == list(range(len(docs)))
    # chunk ids are non-decreasing along the stream and match the
    # floor(start_offset / budget) contract
    start = 0
    for r in rows:
        assert r["chunk_id"] == start // budget
        start += r["n_tokens"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(doc_tokens, min_size=1, max_size=4))
def test_span_dedup_matches_python_reference(spark, docs):
    # keep-first span election + in-order reassembly vs a direct Python
    # reference over the same (doc_id, span) stream
    from database_collector_spark.operators.dedup import span_dedup

    span_words = 3
    frame = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["kept_spans"], r["text_dedup"])
        for r in span_dedup(frame, span_words=span_words).collect()
    }

    seen: set[str] = set()
    for i, toks in enumerate(docs):
        words = " ".join(toks).split(" ")
        spans = [
            " ".join(words[s : s + span_words])
            for s in range(0, len(words), span_words)
        ]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        if kept:
            assert got[i] == (len(spans), len(kept), " ".join(kept))
        else:
            assert i not in got


def test_pii_scrub_redacts_and_counts(spark):
    from database_collector_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "reach a.b+c@mail.example.org or 192.168.1.254 today"),
            (2, "no pii here, version 1.2 is not an ip"),
            (3, "two mails x@y.io z@w.co one ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert rows[1]["text"] == "reach <EMAIL> or <IP> today"
    assert (rows[1]["n_emails"], rows[1]["n_ipv4"]) == (1, 1)
    assert rows[2]["text"] == "no pii here, version 1.2 is not an ip"
    assert (rows[2]["n_emails"], rows[2]["n_ipv4"]) == (0, 0)
    assert rows[3]["text"] == "two mails <EMAIL> <EMAIL> one ip <IP>"


def test_pii_scrub_zero_shuffle(spark):
    from database_collector_spark.operators.text import pii_scrub
    from database_collector_spark.workloads import _t

    plan = (
        pii_scrub(_t(spark, "/root/testdata/sf0.001", "documents"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(st.text(alphabet="abcd ", min_size=1, max_size=40), min_size=1, max_size=4))
def test_char_entropy_matches_python_reference(spark, texts):
    import math

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.char_entropy(df).collect()}
    for i, t in enumerate(texts):
        counts = Counter(t)
        n = len(t)
        if n == 0:
            assert i not in got
            continue
        r = got[i]
        assert r["n_chars"] == n
        assert r["n_distinct"] == len(counts)
        assert r["collision_mass"] == sum(c * c for c in counts.values())
        want = math.log2(n) - sum(c * math.log2(c) for c in counts.values()) / n
        assert abs(r["entropy"] - want) < 1e-3
        # analytic anchors: a one-symbol string has entropy exactly 0;
        # entropy never exceeds log2(alphabet size) beyond round-4 slack
        if len(counts) == 1:
            assert r["entropy"] == 0.0
        assert r["entropy"] <= math.log2(len(counts)) + 5e-5


def test_char_entropy_zero_shuffle(spark):
    from database_collector_spark.workloads import _t

    plan = (
        text.char_entropy(_t(spark, "/root/testdata/sf0.001", "documents"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_documents_covers_every_token_with_overlap(spark):
    from database_collector_spark.operators.text import chunk_documents

    text_str = " ".join(f"t{i}" for i in range(80))
    df = spark.createDataFrame([Row(doc_id=0, text=text_str)])
    chunks = sorted(
        (r["chunk_idx"], r["chunk_text"], r["chunk_len"])
        for r in chunk_documents(df, chunk_tokens=32, stride=24).collect()
    )
    # 80 tokens, C=32, S=24 -> chunks at 0, 24, 48: ceil((80-32)/24)+1 = 3
    assert len(chunks) == 3
    toks = text_str.split(" ")
    for idx, ctext, clen in chunks:
        start = idx * 24
        want = toks[start : start + 32]
        assert ctext.split(" ") == want
        assert clen == len(want)
    # coverage: union of chunks = all tokens
    covered = set()
    for idx, ctext, _ in chunks:
        covered.update(ctext.split(" "))
    assert covered == set(toks)


def test_chunk_documents_short_doc_single_chunk(spark):
    from database_collector_spark.operators.text import chunk_documents

    df = spark.createDataFrame([Row(doc_id=0, text="a b c")])
    rows = chunk_documents(df, chunk_tokens=32, stride=24).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == "a b c" and rows[0]["chunk_len"] == 3


def test_pmi_collocations_hand_counts(spark):
    # corpus: "a b" x3, "a c" x1, one doc "a b a b c" adding 2 more "a b",
    # one "b a" and one "b c" bigram. Totals: tokens a=6 b=5 c=2 (N=13);
    # bigrams: (a,b)=5, (a,c)=1, (b,a)=1, (b,c)=1.
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b"),
            Row(doc_id=2, text="a b"),
            Row(doc_id=3, text="a b"),
            Row(doc_id=4, text="a c"),
            Row(doc_id=5, text="a b a b c"),
        ]
    )
    out = text.pmi_collocations(docs, min_count=1).collect()
    got = {(r["x"], r["y"]): r for r in out}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "a"), ("b", "c")}
    r = got[("a", "b")]
    assert (r["c_xy"], r["c_x"], r["c_y"]) == (5, 6, 5)
    # pmi_ppb = floor(5 * 13 * 1e9 / 30)
    assert r["pmi_ppb"] == 5 * 13 * 1_000_000_000 // 30
    assert got[("a", "c")]["pmi_ppb"] == 1 * 13 * 1_000_000_000 // (6 * 2)


def test_pmi_collocations_min_count_filters(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b"), Row(doc_id=2, text="a b"), Row(doc_id=3, text="c d")]
    )
    out = text.pmi_collocations(docs, min_count=2).collect()
    assert [(r["x"], r["y"]) for r in out] == [("a", "b")]


def test_pmi_collocations_count_lookups_broadcast(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c a b")])
    plan = (
        text.pmi_collocations(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # unigram/N lookups must be broadcast joins; the token stream must
    # never be a join probe side of a shuffle join
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_readability_hand_fixture(spark):
    from database_collector_spark.operators.text import readability

    docs = spark.createDataFrame(
        [
            # 4 words, 2 sentences, syllables: "go"(1) "now"(1) "stop"(1)
            # "here"(2: e, e) = 5
            Row(doc_id=1, text="Go now. Stop here!"),
            Row(doc_id=2, text=""),  # empty: counts 0, scores NULL
            # fragment without terminator: sentence floor of 1
            Row(doc_id=3, text="simple fragment text"),
        ]
    )
    got = {r["doc_id"]: r for r in readability(docs).collect()}
    r1 = got[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (4, 2, 5)
    # ease = 206.835 - 1.015*(4/2) - 84.6*(5/4) = 206.835-2.03-105.75
    assert abs(r1["flesch_ease"] - 99.055) < 1e-9
    # grade = 0.39*2 + 11.8*1.25 - 15.59 = 0.78+14.75-15.59
    assert abs(r1["fk_grade"] - (-0.06)) < 1e-9
    assert got[2]["n_words"] == 0 and got[2]["flesch_ease"] is None
    assert got[3]["n_sentences"] == 1
    # "simple"(2: i,e) "fragment"(2: a,e) "text"(1) = 5
    assert got[3]["n_syllables"] == 5


def _md5_hv(s: str) -> int:
    """Python mirror of the engine hash idiom: first 8 md5 hex digits."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _ref_weight(feat: str, n_buckets: int, salt: str) -> int:
    bucket = _md5_hv(f"{feat}:{salt}") % n_buckets
    return _md5_hv(f"w:{bucket}:{salt}") % 2001 - 1000


def _ref_classify(tokens, n_buckets, salt, bigrams):
    feats = list(tokens)
    if bigrams:
        feats += [f"{a}_{b}" for a, b in zip(tokens, tokens[1:])]
    logit_milli = sum(_ref_weight(f, n_buckets, salt) for f in feats)
    return len(feats), logit_milli


def test_hashed_classifier_matches_python_reference(spark):
    import math

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox the quick"),
            Row(doc_id=2, text="zzz"),
            Row(doc_id=3, text=""),  # zero features: p NULL, label drop
        ]
    )
    for bigrams in (False, True):
        got = {
            r["doc_id"]: r
            for r in text.hashed_classifier(
                docs, n_buckets=64, salt="t", bigrams=bigrams
            ).collect()
        }
        for doc_id, txt in [(1, "the quick brown fox the quick"), (2, "zzz")]:
            toks = [t for t in txt.split(" ") if t]
            n_feats, logit = _ref_classify(toks, 64, "t", bigrams)
            r = got[doc_id]
            assert (r["n_feats"], r["logit_milli"]) == (n_feats, logit)
            p = 1.0 / (1.0 + math.exp(-logit / (1000.0 * n_feats)))
            assert abs(r["p_keep"] - p) < 5e-7
            assert r["label"] == ("keep" if logit > 0 else "drop")
        r3 = got[3]
        assert (r3["n_feats"], r3["logit_milli"]) == (0, 0)
        assert r3["p_keep"] is None and r3["label"] == "drop"


def _hash_weight_table(spark, *, n_buckets, salt):
    # the pseudo-model as an explicit (bucket, weight_milli) table, the
    # shape a trained model ships as parquet; hashed_classifier's in-row
    # weight expression, evaluated once per bucket
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        F.expr(
            f"CAST(conv(substring(md5(concat('w:', CAST(id AS STRING),"
            f" ':', '{salt}')), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000"
        ).alias("weight_milli"),
    )


def test_hashed_classifier_weight_table_path_identical(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma alpha"),
            Row(doc_id=2, text="delta"),
            Row(doc_id=3, text=""),
        ]
    )
    inrow = text.hashed_classifier(docs, n_buckets=32, salt="t", bigrams=True)
    table = _hash_weight_table(spark, n_buckets=32, salt="t")
    joined = text.hashed_classifier(
        docs, n_buckets=32, salt="t", bigrams=True, weights=table
    )
    a = sorted(map(tuple, inrow.collect()))
    b = sorted(map(tuple, joined.collect()))
    assert a == b


def test_hashed_classifier_weight_table_join_is_broadcast(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    table = _hash_weight_table(spark, n_buckets=16, salt="t")
    plan = (
        text.hashed_classifier(docs, n_buckets=16, salt="t", weights=table)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(doc_tokens, min_size=1, max_size=4),
    bigrams=st.booleans(),
)
def test_hashed_classifier_property_matches_reference(spark, docs, bigrams):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["logit_milli"])
        for r in text.hashed_classifier(
            df, n_buckets=128, salt="p", bigrams=bigrams
        ).collect()
    }
    for i, toks in enumerate(docs):
        assert got[i] == _ref_classify(toks, 128, "p", bigrams)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(doc_tokens, min_size=1, max_size=3),
    weights=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=16, max_size=16
    ),
)
def test_hashed_classifier_arbitrary_weight_table_matches_reference(
    spark, docs, weights
):
    """The trained-model path with an ARBITRARY weight table (not the
    md5-derived pseudo-model): per-doc logit must equal the Python
    reference lookup, with unseen buckets reading weight 0."""
    n_buckets = 16
    # sparse table: drop half the buckets to exercise the missing->0 path
    table_rows = [(b, w) for b, w in enumerate(weights) if b % 2 == 0]
    table = spark.createDataFrame(table_rows, "bucket long, weight_milli long")
    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    )
    got = {
        r["doc_id"]: (r["n_feats"], r["logit_milli"])
        for r in text.hashed_classifier(
            df, n_buckets=n_buckets, salt="w", weights=table
        ).collect()
    }
    wmap = dict(table_rows)
    for i, toks in enumerate(docs):
        logit = sum(
            wmap.get(_md5_hv(f"{t}:w") % n_buckets, 0) for t in toks
        )
        assert got[i] == (len(toks), logit)


def test_hashed_classifier_rejects_unsafe_salt_and_buckets(spark):
    import pytest

    docs = spark.createDataFrame([Row(doc_id=1, text="a")])
    with pytest.raises(ValueError):
        text.hashed_classifier(docs, salt="x'); DROP--")
    with pytest.raises(ValueError):
        text.hashed_classifier(docs, n_buckets=0)


def test_lang_id_confusion_counts_and_shares(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="the quick fox"),
            Row(doc_id=2, lang="en", text="the and of"),
            Row(doc_id=3, lang="en", text="el la de"),  # misroutes to es
            Row(doc_id=4, lang="de", text="qqq zzz"),  # no votes: unknown
        ]
    )
    got = {
        (r["actual_lang"], r["pred_lang"]): (r["n_docs"], r["frac_of_actual"])
        for r in text.lang_id_confusion(docs).collect()
    }
    assert got[("en", "en")] == (2, round(2 / 3, 4))
    assert got[("en", "es")] == (1, round(1 / 3, 4))
    assert got[("de", "unknown")] == (1, 1.0)
    assert len(got) == 3


def test_vocab_richness_matches_python_reference(spark):
    """vocab_richness (r14 gate candidate): observed/f1/f2/n_tokens vs
    a plain-Python frequency spectrum, chao1 = observed +
    f1(f1-1)/(2(f2+1)) exactly; NULL text and NULL group excluded."""
    from collections import Counter

    from database_collector_spark.operators.text import vocab_richness

    rows = [
        ("a", "x y x z  w"),        # double space -> empty token dropped
        ("a", "x q"),
        ("b", "solo"),
        ("b", None),
        (None, "ghost tokens"),
    ]
    df = spark.createDataFrame(rows, "g string, text string")
    out = {
        r["g"]: r for r in vocab_richness(df, group_col="g").collect()
    }
    ref: dict[str, Counter] = {}
    for g, t in rows:
        if g is None or t is None:
            continue
        ref.setdefault(g, Counter()).update(w for w in t.split(" ") if w)
    assert set(out) == set(ref)
    for g, cnt in ref.items():
        f1 = sum(1 for c in cnt.values() if c == 1)
        f2 = sum(1 for c in cnt.values() if c == 2)
        row = out[g]
        assert (row["observed"], row["n_tokens"], row["f1"], row["f2"]) == (
            len(cnt), sum(cnt.values()), f1, f2,
        )
        assert row["chao1"] == round(len(cnt) + f1 * (f1 - 1) / (2 * (f2 + 1)), 6)
