"""Property-based invariants for the round-14 eval operators — each
fuzzed against a plain-Python reference over adversarial inputs
(degenerate classes, all-ties, single-category panels, random vote
tables). Spark-backed — modest example counts, each example is a job.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from database_collector_spark.operators.ranking import (
    ece_report,
    fleiss_kappa,
    ks_statistic,
    mcc,
)

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _mcc_ref(pairs):
    tp = sum(1 for p, t in pairs if p and t)
    fp = sum(1 for p, t in pairs if p and not t)
    fn = sum(1 for p, t in pairs if not p and t)
    tn = sum(1 for p, t in pairs if not p and not t)
    m = [(tp + fp), (tp + fn), (tn + fp), (tn + fn)]
    if any(x == 0 for x in m):
        return None
    den = (
        math.sqrt(m[0]) * math.sqrt(m[1]) * math.sqrt(m[2]) * math.sqrt(m[3])
    )
    return round((tp * tn - fp * fn) / den, 6)


@_settings
@given(pairs=st.lists(st.tuples(st.booleans(), st.booleans()), min_size=1, max_size=60))
def test_mcc_fuzz_matches_reference(spark, pairs):
    df = spark.createDataFrame(
        [(int(p), int(t)) for p, t in pairs], "pred int, truth int"
    )
    [r] = mcc(df, "pred", "truth").collect()
    assert r["mcc"] == _mcc_ref(pairs)


def _ks_ref(rows):
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    if not pos or not neg:
        return None
    best = 0
    for s in {s for s, _ in rows}:
        cp = sum(1 for v in pos if v <= s)
        cn = sum(1 for v in neg if v <= s)
        best = max(best, abs(cp * len(neg) - cn * len(pos)))
    return round(best / (len(pos) * len(neg)), 6)


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=-50, max_value=50), st.integers(0, 1)),
        min_size=1,
        max_size=80,
    ),
    buckets=st.sampled_from([1, 4, 64]),
)
def test_ks_fuzz_matches_reference(spark, rows, buckets):
    df = spark.createDataFrame(rows, "score long, label int")
    [r] = ks_statistic(df, coarse_buckets=buckets).collect()
    assert r["ks"] == _ks_ref(rows)


def _half_up_6(num, den):
    """num/den rounded half-up at 6 digits from the exact integers. Spark
    and DuckDB both round the exact tie 999/16000 = 0.0624375 up to
    0.062438; Python's round() sees the double just below the tie and
    returns 0.062437."""
    return (2 * 10**6 * num + den) // (2 * den) / 10**6


def _ece_ref(rows, n_bins=5, scale=1000):
    bins: dict[int, list[tuple[int, int]]] = {}
    for p, y in rows:
        bins.setdefault(min(p * n_bins // scale, n_bins - 1), []).append((p, y))
    gaps = {
        b: abs(scale * sum(y for _, y in v) - sum(p for p, _ in v))
        for b, v in bins.items()
    }
    n = len(rows)
    ece = _half_up_6(sum(gaps.values()), scale * n)
    mce = max(_half_up_6(g, scale * len(bins[b])) for b, g in gaps.items())
    return ece, mce


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1000), st.integers(0, 1)),
        min_size=1,
        max_size=80,
    )
)
def test_ece_fuzz_matches_reference(spark, rows):
    df = spark.createDataFrame(rows, "p_milli int, label int")
    [r] = ece_report(df, n_bins=5).collect()
    assert (r["ece"], r["mce"]) == _ece_ref(rows)


def _fleiss_ref(table):
    n_items = len(table)
    n = sum(table[0])
    if n < 2:
        return None
    p_o_num = sum(sum(c * (c - 1) for c in row) for row in table)
    totals = [sum(row[j] for row in table) for j in range(len(table[0]))]
    b = sum(t * t for t in totals)
    e = (n_items * n) ** 2
    d = n_items * n * (n - 1)
    den = d * (e - b)
    if den == 0:
        return None
    return round((p_o_num * e - b * d) / den, 6)


@_settings
@given(data=st.data())
def test_fleiss_fuzz_matches_reference(spark, data):
    n_items = data.draw(st.integers(min_value=1, max_value=8))
    n_raters = data.draw(st.integers(min_value=1, max_value=6))
    n_cats = data.draw(st.integers(min_value=1, max_value=4))
    votes = [
        (i, data.draw(st.integers(min_value=0, max_value=n_cats - 1)))
        for i in range(n_items)
        for _ in range(n_raters)
    ]
    table = [
        [sum(1 for it, c in votes if it == i and c == j) for j in range(n_cats)]
        for i in range(n_items)
    ]
    df = spark.createDataFrame(votes, "item_id int, category int")
    [r] = fleiss_kappa(df).collect()
    assert r["n_items"] == n_items and r["n_raters"] == n_raters
    assert r["kappa"] == _fleiss_ref(table)


def _cal_ref(rows, n_bins):
    """Percentile bins with tie classes whole (the calibration_curve
    rule): bin = (strictly-below count) * B div n, per distinct score."""
    from collections import Counter

    per = Counter()
    pos = Counter()
    for s, y in rows:
        per[s] += 1
        pos[s] += y
    n = len(rows)
    out = {}
    below = 0
    for s in sorted(per):
        b = below * n_bins // n
        nd, np_ = out.get(b, (0, 0))
        out[b] = (nd + per[s], np_ + pos[s])
        below += per[s]
    return out


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=12), st.integers(0, 1)),
        min_size=1,
        max_size=60,
    ),
    n_bins=st.sampled_from([1, 3, 8]),
)
def test_lift_and_pr_fuzz_match_bin_reference(spark, rows, n_bins):
    """lift_curve and pr_curve suffix arithmetic vs a plain-Python
    reference built on the same tie-classes-whole binning rule."""
    from database_collector_spark.operators.ranking import lift_curve, pr_curve

    df = spark.createDataFrame(
        [(float(s), y) for s, y in rows], "score double, label int"
    )
    bins = _cal_ref(rows, n_bins)
    n_all = sum(nd for nd, _ in bins.values())
    p_all = sum(np_ for _, np_ in bins.values())
    lifts = {r["bin"]: r for r in lift_curve(df, n_bins=n_bins).collect()}
    assert set(lifts) == set(bins)
    for b, (nd, np_) in bins.items():
        r = lifts[b]
        assert (r["n_docs"], r["n_pos"]) == (nd, np_)
        cum_n = sum(v[0] for bb, v in bins.items() if bb >= b)
        cum_pos = sum(v[1] for bb, v in bins.items() if bb >= b)
        assert (r["cum_n"], r["cum_pos"]) == (cum_n, cum_pos)
        if p_all:
            assert r["lift"] == round((np_ * n_all) / (nd * p_all), 6)
            assert r["cum_lift"] == round((cum_pos * n_all) / (cum_n * p_all), 6)
        else:
            assert r["lift"] is None and r["cum_lift"] is None
    prs = {r["bin"]: r for r in pr_curve(df, n_bins=n_bins).collect()}
    for b in bins:
        r = prs[b]
        tp = sum(v[1] for bb, v in bins.items() if bb >= b)
        pred = sum(v[0] for bb, v in bins.items() if bb >= b)
        assert (r["pred_pos"], r["tp"]) == (pred, tp)
        assert r["precision"] == round(tp / pred, 6)
        assert r["recall"] == (round(tp / p_all, 6) if p_all else None)


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.integers(0, 2)),
        min_size=1,
        max_size=60,
    )
)
def test_chi2_fuzz_matches_reference(spark, rows):
    from collections import Counter

    from database_collector_spark.operators.ranking import chi2_association

    df = spark.createDataFrame(rows, "a int, b int")
    got = {(r["a"], r["b"]): r for r in chi2_association(df, "a", "b").collect()}
    n = len(rows)
    ra = Counter(a for a, _ in rows)
    cb = Counter(b for _, b in rows)
    obs = Counter(rows)
    assert set(got) == {(a, b) for a in ra for b in cb}
    for (a, b), r in got.items():
        o = obs.get((a, b), 0)
        assert r["observed"] == o and (r["n_a"], r["n_b"], r["n"]) == (
            ra[a], cb[b], n
        )
        assert r["expected"] == round(ra[a] * cb[b] / n, 6)
        assert r["contrib"] == round(
            (o * n - ra[a] * cb[b]) ** 2 / (n * ra[a] * cb[b]), 6
        )
