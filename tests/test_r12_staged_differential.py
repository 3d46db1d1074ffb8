"""Brute-force references of the banded pair core (Kendall tau,
Theil-Sen), the calibration curve and grouped quantiles, and the
source-governance budget. Every gate's differential against its DuckDB
twin and its plan check for row-at-a-time Python and cartesian products
run in test_gates.py.
"""

from __future__ import annotations

from conftest import SF
from database_collector_spark import gates, workloads_eval, workloads_text


def test_kendall_tau_matches_brute_force(spark):
    """Banded tau-b on a small hand fixture vs an all-banded-pairs
    Python reference, ties included in both x and y."""
    import math

    rows = [
        # (user, ts-seconds, event_id, cents)
        (1, 10, 1, 100),
        (1, 10, 2, 300),  # x-tie with the row above
        (1, 20, 3, 300),  # y-tie with the row above
        (1, 30, 4, 200),
        (1, 40, 5, 500),
        (2, 10, 1, 5),
        (2, 20, 2, 5),
        (2, 30, 3, 5),  # all y tied -> NULL tau
    ]
    band = 3
    df = spark.createDataFrame(rows, "g long, x long, id long, y long")
    from database_collector_spark.operators.ranking import banded_kendall_tau

    got = {
        r["g"]: r
        for r in banded_kendall_tau(
            df, "g", x_col="x", y_col="y", id_col="id", band=band
        ).collect()
    }

    for g in (1, 2):
        pts = sorted([(x, i, y) for (u, x, i, y) in rows if u == g])
        pairs = [
            (pts[a], pts[b])
            for a in range(len(pts))
            for b in range(a + 1, min(a + band + 1, len(pts)))
        ]
        c = sum(1 for p, q in pairs if q[0] > p[0] and q[2] > p[2])
        d = sum(1 for p, q in pairs if q[0] > p[0] and q[2] < p[2])
        n0 = len(pairs)
        n1 = sum(1 for p, q in pairs if q[0] == p[0])
        n2 = sum(1 for p, q in pairs if q[2] == p[2])
        r = got[g]
        assert (r["n_pairs"], r["concordant"], r["discordant"]) == (n0, c, d)
        denom = (n0 - n1) * (n0 - n2)
        if denom > 0:
            assert r["tau_b"] == round((c - d) / math.sqrt(denom), 6)
        else:
            assert r["tau_b"] is None


def test_calibration_curve_matches_brute_force(spark):
    """Percentile bins with tie classes kept whole: brute-force the
    bin = below*B div n rule in Python and compare every bin stat."""
    rows = [(0.1, 1), (0.1, 0), (0.2, 1), (0.3, 0), (0.3, 1), (0.3, 1), (0.9, 0)]
    df = spark.createDataFrame(rows, "score double, label int")
    from database_collector_spark.operators.ranking import calibration_curve

    got = {r["bin"]: r for r in calibration_curve(df, n_bins=4).collect()}

    n = len(rows)
    per = {}
    for s, y in rows:
        cnt, pos = per.get(s, (0, 0))
        per[s] = (cnt + 1, pos + y)
    below = 0
    stats = {}
    for s in sorted(per):
        cnt, pos = per[s]
        b = (below * 4) // n
        nd, np_, lo, hi = stats.get(b, (0, 0, s, s))
        stats[b] = (nd + cnt, np_ + pos, min(lo, s), max(hi, s))
        below += cnt
    assert set(got) == set(stats)
    for b, (nd, np_, lo, hi) in stats.items():
        r = got[b]
        assert (r["n_docs"], r["n_pos"]) == (nd, np_)
        assert r["pos_rate"] == round(np_ / nd, 6)
        assert (r["lo_score"], r["hi_score"]) == (round(lo, 6), round(hi, 6))


def test_banded_pair_core_excludes_null_rows_actively(spark):
    """NULL group/x/y/id rows are FILTERED by the shared band core
    (a NULL y would count in n_pairs yet match no comparison — tau_b
    biased toward 0; a NULL x sorts NULLS FIRST in Spark but NULLS
    LAST in DuckDB and changes the banded pair SET); remaining pairs
    are unaffected."""
    from database_collector_spark.operators.ranking import banded_kendall_tau

    clean = [(1, 10, 1, 100), (1, 20, 2, 200), (1, 30, 3, 150)]
    dirty = clean + [(1, 15, 4, None), (1, None, 5, 300), (None, 25, 6, 50)]
    out = {}
    for tag, rows in (("clean", clean), ("dirty", dirty)):
        df = spark.createDataFrame(rows, "g int, x int, id int, y int")
        out[tag] = banded_kendall_tau(
            df, "g", x_col="x", y_col="y", id_col="id", band=3
        ).collect()
    assert [tuple(r) for r in out["dirty"]] == [tuple(r) for r in out["clean"]]
    assert out["clean"][0]["n_pairs"] == 3


def test_theil_sen_rides_the_shared_band_core(spark):
    """theil_sen_slope and kendall_tau_banded consume the SAME series
    projection and band expansion — the reuse contract: both gates'
    pair sets come from ranking.banded_pair_deltas over
    workloads_eval.user_value_series, so a band-semantics fix lands in
    one place. Checked behaviorally: the theil_sen slope multiset per
    user equals the dy/dx of the shared core's pairs."""
    from database_collector_spark.operators.ranking import banded_pair_deltas
    from database_collector_spark.workloads_eval import _TS_BAND, user_value_series

    base = user_value_series(spark, SF)
    pairs = banded_pair_deltas(
        base, "user_id", x_col="s", y_col="v", id_col="event_id", band=_TS_BAND
    ).collect()
    import collections

    want = collections.defaultdict(list)
    for r in pairs:
        if r["dx"] != 0:
            want[r["g"]].append(r["dy"] / r["dx"])
    got = gates.all_queries()["theil_sen_slope"](spark, SF).collect()
    import math

    for r in got:
        slopes = sorted(want[r["user_id"]])
        assert r["n_slopes"] == len(slopes)
        median = slopes[(len(slopes) + 1) // 2 - 1]
        assert math.isclose(r["median_slope_per_hour"], round(median * 3600, 6))


def test_quantiles_by_group_matches_brute_force(spark):
    """Type-1 quartile rule k_m = ceil(m*n/4) on random tie-heavy data
    vs a sort-and-index Python reference."""
    import math
    import random

    from database_collector_spark.operators.ranking import quantiles_by_group

    rng = random.Random(11)
    rows = [
        (g, rng.randint(-20, 20))
        for g, sz in (("a", 37), ("b", 64), ("c", 1))
        for _ in range(sz)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in quantiles_by_group(df, "g", "v").collect()}
    from collections import defaultdict

    byg = defaultdict(list)
    for g, v in rows:
        byg[g].append(v)
    for g, vals in byg.items():
        vals.sort()
        n = len(vals)
        exp = [vals[math.ceil(m * n / 4) - 1] for m in (1, 2, 3)]
        r = got[g]
        assert (r["n"], r["p25"], r["p50"], r["p75"]) == (n, *exp), g


def test_source_governance_quotas_sum_to_budget(spark):
    """The composite's loader contract: Hamilton quotas over the
    survivors sum EXACTLY to the budget — checked on the composed gate
    output, not just the allocator's own property tests."""
    out = gates.all_queries()["source_governance"](spark, SF).collect()
    assert sum(r["quota"] for r in out) == workloads_text._GOV_BUDGET
    for r in out:
        assert 0 < r["n_kept"] <= r["n_docs"]
