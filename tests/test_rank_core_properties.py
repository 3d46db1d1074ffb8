"""Property-based invariants for the shared rank core
(ranking.prefix_count_below) and its newest consumers — the primitive
under auc_exact, auc_by_group, spearman_by_group, calibration_curve and
quantiles_by_group, fuzzed over ARBITRARY double domains (denormals,
huge outliers, ±Inf, NaN, duplicate-heavy ties) in BOTH bucketing modes:

- below-counts equal a plain-Python strictly-below reference under
  Spark's double ordering (NaN greatest, NaN == NaN);
- refine_narrow_domains=True returns byte-identical counts (bucketing
  must never change results, only partitioning);
- quantiles_by_group equals the sort-and-index type-1 reference;
- rank_select_by_group equals the same reference over tie-heavy and
  wide-magnitude domains (cells on both sides of zero, and everything
  in one log-cell);
- banded_kendall_tau equals the all-banded-pairs reference.

Spark-backed — modest example counts, each example is a job.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from database_collector_spark.operators.ranking import rank_select_by_group

from rankrefs import rank_ref

_vals = st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=-1e-300, max_value=1e-300, allow_nan=False),
    st.sampled_from(
        [0.0, 1e300, -1e300, 5e-324, float("inf"), float("-inf"), float("nan")]
    ),
)


def _below_ref(items: dict[float, int], v: float) -> int:
    if math.isnan(v):
        return sum(c for v2, c in items.items() if not math.isnan(v2))
    return sum(c for v2, c in items.items() if not math.isnan(v2) and v2 < v)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(_vals, min_size=1, max_size=40),
    counts=st.lists(st.integers(min_value=1, max_value=9), min_size=40, max_size=40),
    buckets=st.sampled_from([1, 4, 64]),
)
def test_prefix_count_below_fuzz_both_modes(spark, vals, counts, buckets):
    from database_collector_spark.operators.ranking import prefix_count_below

    items: dict[float, int] = {}
    for v, c in zip(vals, counts):
        k = next((x for x in items if math.isnan(x)), v) if math.isnan(v) else v
        items[k] = items.get(k, 0) + c
    df = spark.createDataFrame(list(items.items()), "v double, c long")
    want = {
        ("nan" if math.isnan(v) else v): _below_ref(items, v) for v in items
    }
    got_modes = []
    for refine in (False, True):
        out = prefix_count_below(
            df, [], "v", "c", coarse_buckets=buckets, refine_narrow_domains=refine
        ).collect()
        got = {
            ("nan" if math.isnan(r["v"]) else r["v"]): r["below"] for r in out
        }
        assert got == want, (refine, buckets)
        got_modes.append(got)
    assert got_modes[0] == got_modes[1]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]), st.integers(min_value=-50, max_value=50)
        ),
        min_size=1,
        max_size=60,
    )
)
def test_quantiles_by_group_fuzz(spark, data):
    from database_collector_spark.operators.ranking import quantiles_by_group

    df = spark.createDataFrame(data, "g string, v long")
    got = {r["g"]: r for r in quantiles_by_group(df, "g", "v").collect()}
    groups: dict[str, list[int]] = {}
    for g, v in data:
        groups.setdefault(g, []).append(v)
    assert set(got) == set(groups)
    for g, vals in groups.items():
        vals.sort()
        n = len(vals)
        exp = tuple(vals[math.ceil(m * n / 4) - 1] for m in (1, 2, 3))
        r = got[g]
        assert (r["n"], r["p25"], r["p50"], r["p75"]) == (n, *exp), g


# tie-heavy: small value pool; wide: magnitudes spanning many cells
_values = st.one_of(
    st.integers(min_value=-3, max_value=3),
    st.integers(min_value=-(10**9), max_value=10**9),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    groups=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.lists(_values, min_size=1, max_size=25),
        min_size=1,
        max_size=3,
    )
)
def test_rank_select_fuzz_matches_sorted_reference(spark, groups):
    rows = [Row(g=g, v=v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r["g"]: r.asDict()
        for r in rank_select_by_group(
            df,
            "g",
            "v",
            {"lo": "1", "q1": "(n + 3) div 4", "med": "(n + 1) div 2", "hi": "n"},
        ).collect()
    }
    assert set(got) == set(groups)
    for g, vs in groups.items():
        n = len(vs)
        assert got[g]["n"] == n
        assert got[g]["lo"] == rank_ref(vs, 1)
        assert got[g]["q1"] == rank_ref(vs, (n + 3) // 4)
        assert got[g]["med"] == rank_ref(vs, (n + 1) // 2)
        assert got[g]["hi"] == rank_ref(vs, n)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # x (tie-heavy)
            st.integers(min_value=-5, max_value=5),  # y (tie-heavy)
        ),
        min_size=2,
        max_size=25,
    ),
    band=st.sampled_from([1, 3, 7]),
)
def test_banded_kendall_tau_fuzz(spark, pts, band):
    from database_collector_spark.operators.ranking import banded_kendall_tau

    rows = [(1, x, i, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "g int, x long, id long, y long")
    out = banded_kendall_tau(
        df, "g", x_col="x", y_col="y", id_col="id", band=band
    ).collect()
    assert len(out) == 1
    r = out[0]
    srt = sorted((x, i, y) for (_, x, i, y) in rows)
    pairs = [
        (srt[a], srt[b])
        for a in range(len(srt))
        for b in range(a + 1, min(a + band + 1, len(srt)))
    ]
    c = sum(1 for p, q in pairs if q[0] > p[0] and q[2] > p[2])
    d = sum(1 for p, q in pairs if q[0] > p[0] and q[2] < p[2])
    n0, n1 = len(pairs), sum(1 for p, q in pairs if q[0] == p[0])
    n2 = sum(1 for p, q in pairs if q[2] == p[2])
    assert (r["n_pairs"], r["concordant"], r["discordant"]) == (n0, c, d)
    denom = (n0 - n1) * (n0 - n2)
    if denom > 0:
        assert r["tau_b"] == round((c - d) / math.sqrt(denom), 6)
    else:
        assert r["tau_b"] is None


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_ranked=st.integers(min_value=1, max_value=8),
    judged=st.dictionaries(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=3),
        max_size=12,
    ),
    k=st.sampled_from([1, 3, 10]),
)
def test_map_at_k_fuzz_vs_python_reference(spark, n_ranked, judged, k):
    """map_at_k equals a plain-Python reference over arbitrary ranked
    lists and judgment tables (ids judged-but-unranked, ranked-but-
    unjudged, graded rels collapsing to binary, every k regime)."""
    from database_collector_spark.operators.ranking import map_at_k

    ranked_ids = list(range(n_ranked))  # rank i+1 for id i
    ranked = spark.createDataFrame(
        [("g", i, i + 1) for i in ranked_ids], "g string, doc_id int, rank int"
    )
    if not judged:
        judged = {0: 0}
    rels = spark.createDataFrame(
        [("g", i, r) for i, r in judged.items()], "g string, doc_id int, rel int"
    )
    row = map_at_k(ranked, rels, k=k, group_col="g").collect()[0]

    rel_ids = {i for i, r in judged.items() if r > 0}
    topk = [i for i in ranked_ids if i + 1 <= k]
    hits_seq, cum = [], 0
    ap_num = 0.0
    for pos, i in enumerate(topk, start=1):
        h = 1 if i in rel_ids else 0
        cum += h
        if h:
            ap_num += cum / pos
    n_rel = len(rel_ids)
    assert row["n_ranked"] == len(topk)
    assert row["n_rel"] == n_rel
    assert row["hits"] == cum
    assert abs(row["p_at_k"] - cum / k) <= 5.1e-7
    if n_rel == 0:
        assert row["r_at_k"] is None and row["ap"] is None
    else:
        assert abs(row["r_at_k"] - cum / n_rel) <= 5.1e-7
        assert abs(row["ap"] - ap_num / min(n_rel, k)) <= 5.1e-7


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    votes=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=1)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=1)),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cohen_kappa_fuzz_vs_closed_form(spark, votes):
    """cohen_kappa equals the exact-integer closed form under arbitrary
    vote patterns including NULL abstentions and constant raters."""
    from database_collector_spark.operators.ranking import cohen_kappa

    df = spark.createDataFrame(
        [("g", a, b) for a, b in votes], "g string, a int, b int"
    )
    out = cohen_kappa(df, rater_a_col="a", rater_b_col="b", group_col="g").collect()
    kept = [(a, b) for a, b in votes if a is not None and b is not None]
    if not kept:
        assert out == []
        return
    row = out[0]
    n = len(kept)
    agree = sum(1 for a, b in kept if a == b)
    pos_a = sum(a for a, _ in kept)
    pos_b = sum(b for _, b in kept)
    assert (row["n"], row["agree"], row["pos_a"], row["pos_b"]) == (
        n, agree, pos_a, pos_b,
    )
    pe_num = pos_a * pos_b + (n - pos_a) * (n - pos_b)
    den = n * n - pe_num
    if den == 0:
        assert row["kappa"] is None
    else:
        assert abs(row["kappa"] - (n * agree - pe_num) / den) <= 5.1e-7


_TWO53 = 2**53


def _exact_ratio_rows(spark, pairs, digits):
    from pyspark.sql import functions as F

    from database_collector_spark.operators.ranking import exact_ratio_round

    df = spark.createDataFrame(sorted(pairs), "num long, den long")
    r = exact_ratio_round(F.col("num"), F.col("den"), digits).alias("r")
    return {(x["num"], x["den"]): x["r"] for x in df.select("num", "den", r).collect()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    digits=st.integers(min_value=0, max_value=9),
    rows=st.lists(
        st.tuples(
            st.one_of(
                st.integers(min_value=0, max_value=_TWO53 - 1),
                st.integers(min_value=_TWO53 - 2**20, max_value=_TWO53 - 1),
            ),
            st.integers(min_value=1, max_value=1000),
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_exact_ratio_round_is_exact_below_two_pow_53(spark, digits, rows):
    """Up to the documented bound — quantized quotient q·10^d < 2^53 —
    the result is exactly the half-up integer quotient over 10^d, i.e.
    the double nearest q / 10^d, across the whole range and at the
    bound itself."""
    pairs = {((q * den) // 10**digits, den) for q, den in rows}
    for (num, den), got in _exact_ratio_rows(spark, pairs, digits).items():
        q = (2 * 10**digits * num + den) // (2 * den)
        if q < _TWO53:
            assert got == q / 10**digits, (num, den, digits)


def test_exact_ratio_round_loses_units_past_two_pow_53(spark):
    """The bound is real: 2^53 - 1 survives the long→double cast, 2^53 + 1
    comes back as 2^53."""
    got = _exact_ratio_rows(spark, {(_TWO53 - 1, 1), (_TWO53 + 1, 1)}, 0)
    assert got[(_TWO53 - 1, 1)] == _TWO53 - 1
    assert got[(_TWO53 + 1, 1)] == _TWO53
