"""Hypothesis property suites for the late-r7 operators: each compared
against a direct Python brute-force reference on randomized instances —
the same strategy the dedup/merge tiers use."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

point = st.tuples(st.integers(0, 8), st.integers(0, 8))


@settings(**_SETTINGS)
@given(pts=st.lists(point, min_size=1, max_size=25))
def test_skyline_matches_brute_force(spark, pts):
    from database_collector_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame([Row(g="_", x=x, y=y) for x, y in pts])
    got = {
        (r["x"], r["y"]): r["n_rows"]
        for r in skyline_2d(df, by=("g",)).collect()
    }
    dedup = {}
    for p in pts:
        dedup[p] = dedup.get(p, 0) + 1
    want = {
        (x, y): n
        for (x, y), n in dedup.items()
        if not any(
            (qx <= x and qy >= y and (qx < x or qy > y)) for qx, qy in dedup
        )
    }
    assert got == want


iv = st.tuples(st.integers(0, 30), st.integers(0, 10))


@settings(**_SETTINGS)
@given(ivs=st.lists(iv, min_size=1, max_size=20))
def test_coalesce_intervals_matches_brute_force(spark, ivs):
    from database_collector_spark.operators.timeseries import coalesce_intervals

    rows = [Row(k="_", start=s, end=s + d) for s, d in ivs]
    got = sorted(
        (r["start"], r["end"], r["n_intervals"])
        for r in coalesce_intervals(
            spark.createDataFrame(rows), by=("k",)
        ).collect()
    )
    # brute force: sort, sweep with running max end
    islands = []
    for s, e in sorted((s, s + d) for s, d in ivs):
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
            islands[-1][2] += 1
        else:
            islands.append([s, e, 1])
    assert got == sorted((s, e, n) for s, e, n in islands)


delta = st.integers(-50, 50)


@settings(**_SETTINGS)
@given(ds=st.lists(delta, min_size=1, max_size=30))
def test_capped_balance_matches_python_fold(spark, ds):
    import datetime as dt

    from pyspark.sql import functions as F

    # drive the same fold shape directly: per-key sorted aggregate()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(k=1, ts=t0 + dt.timedelta(seconds=i), i=i, d=d)
        for i, d in enumerate(ds)
    ]
    df = spark.createDataFrame(rows)
    hist = df.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("ts", "i", "d"))).alias("h")
    )
    out = hist.select(
        F.aggregate(
            "h",
            F.lit(0).cast("long"),
            lambda acc, s: F.greatest(F.lit(0).cast("long"), acc + s["d"]),
        ).alias("bal")
    ).collect()[0]["bal"]
    ref = 0
    for d in ds:
        ref = max(0, ref + d)
    assert out == ref
