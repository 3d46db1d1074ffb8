"""Sketch-only production helpers (operators/sketches.py)."""

from __future__ import annotations

from database_collector_spark.operators import sketches


def test_bitmap_distinct_exact_and_null_safe(spark):
    from pyspark.sql import functions as F

    # keys span multiple 32768-bit buckets; every 13th key NULL
    df = spark.range(0, 60000).selectExpr(
        "id % 3 AS g",
        "CASE WHEN id % 13 = 0 THEN NULL ELSE (id * 7) % 50000 END AS k",
    )
    got = {
        r["g"]: r["n_distinct_k"]
        for r in sketches.bitmap_distinct(df, ["g"], "k").collect()
    }
    want = {
        r["g"]: r["nd"]
        for r in df.groupBy("g").agg(F.countDistinct("k").alias("nd")).collect()
    }
    assert got == want


def test_bitmap_distinct_plan_has_no_expand(spark):
    # the point of the operator: no Expand (COUNT DISTINCT's row
    # multiplication) anywhere; both aggregates are plain HashAggregates
    # over fixed-size bitmap state
    df = spark.range(0, 1000).selectExpr("id % 3 AS g", "id AS k")
    plan = (
        sketches.bitmap_distinct(df, ["g"], "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan
    assert "bitmap_construct_agg" in plan


def test_cms_never_undercounts_and_is_tight_for_heavy_items(spark):
    from pyspark.sql import Row

    from database_collector_spark.operators import sketches

    items = spark.createDataFrame(
        [Row(item="hot")] * 500
        + [Row(item=f"cold{i}") for i in range(200)]
    )
    probes = spark.createDataFrame(
        [Row(item="hot"), Row(item="cold7"), Row(item="absent")]
    )
    got = {
        r["probe_item"]: r["cms_estimate"]
        for r in sketches.cms_point_estimates(items, probes).collect()
    }
    assert got["hot"] >= 500
    assert got["cold7"] >= 1
    # width 256 over 700 items: expected collision mass per cell < 3;
    # one-sided error keeps estimates within a small additive bound
    assert got["hot"] <= 500 + 50
    assert got["absent"] <= 50


def test_cms_cells_bounded_and_mass_preserved(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from database_collector_spark.operators import sketches

    items = spark.createDataFrame([Row(item=f"w{i % 40}") for i in range(1000)])
    cells = sketches.cms_cells(items, depth=4, width=64)
    assert cells.count() <= 4 * 64
    per_row = cells.groupBy("row").agg(F.sum("cnt").alias("mass")).collect()
    # every hash row sees every item exactly once
    assert {r["mass"] for r in per_row} == {1000}
