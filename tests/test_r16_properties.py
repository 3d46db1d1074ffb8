"""Property-based invariants for the round-16 candidate operators —
Zipf head fit and bigram conditional entropy fuzzed against plain-Python
references over adversarial token streams (tie-heavy counts, singleton
vocabularies, repetitive/deterministic continuations). Spark-backed —
modest example counts, each example is a job. (embedding_drift's fuzz
lives in test_similarity_drift_properties-style coverage from its r12
pre-build; see test_r16_candidates.py.)
"""

from __future__ import annotations

import math
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from database_collector_spark.operators.text import (
    bigram_cond_entropy,
    zipf_head_fit,
)

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORDS = ["a", "b", "c", "d", "e"]


def _ols(xy):
    n = len(xy)
    sx = sum(x for x, _ in xy)
    sy = sum(y for _, y in xy)
    sxy = sum(x * y for x, y in xy)
    sxx = sum(x * x for x, _ in xy)
    syy = sum(y * y for _, y in xy)
    dx, dy, cov = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
    if dx <= 0:
        return None, None
    return cov / dx, ((cov * cov) / (dx * dy) if dy > 0 else None)


@_settings
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=6),
)
@example(docs=[["a"] * 4 + ["b"] * 4 + ["c"] * 4], k=3)
def test_zipf_head_fit_fuzz_matches_ols_reference(spark, docs, k):
    rows = [("xx", i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "lang string, doc_id int, text string")
    got = zipf_head_fit(df, k=k).collect()
    counts = Counter(t for toks in docs for t in toks)
    if not counts:
        assert got == []
        return
    head = sorted(counts.items(), key=lambda it: (-it[1], it[0]))[:k]
    xy = [
        (math.log10(r + 1), math.log10(c)) for r, (_, c) in enumerate(head)
    ]
    slope, r2 = _ols(xy)
    if len({c for _, c in head}) == 1:
        # every head count identical: r2 is 0/0. The float dy in _ols
        # can come out as rounding noise here (three counts of 4 give
        # 8.9e-16), so the reference guards on the exact counts, as the
        # operator does.
        r2 = None
    [r] = got
    assert r["n_terms"] == len(head)
    if slope is None:
        assert r["slope"] is None
    else:
        assert abs(r["slope"] - slope) <= 2e-6
    if r2 is None:
        assert r["r2"] is None
    else:
        assert abs(r["r2"] - r2) <= 2e-6


def _h_ref(token_lists):
    c2: Counter = Counter()
    for toks in token_lists:
        c2.update(zip(toks, toks[1:]))
    if not c2:
        return None
    c1: Counter = Counter()
    for (a, _), c in c2.items():
        c1[a] += c
    total = sum(c2.values())
    t1 = sum(c * math.log(c) for c in c1.values())
    t2 = sum(c * math.log(c) for c in c2.values())
    return (t1 - t2) / total


@_settings
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=14),
        min_size=1,
        max_size=6,
    )
)
def test_bigram_cond_entropy_fuzz_matches_counter_reference(spark, docs):
    rows = [("xx", i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "lang string, doc_id int, text string")
    got = bigram_cond_entropy(df).collect()
    want = _h_ref(docs)
    if want is None:
        assert got == []
        return
    [r] = got
    assert abs(r["cond_entropy"] - want) <= 1e-4
    # entropy is bounded by ln(branching factor) and non-negative
    assert 0.0 <= r["cond_entropy"] <= math.log(len(_WORDS)) + 1e-9
