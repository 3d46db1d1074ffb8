"""Unit tests for operators/expectations.py against hand-built frames —
the data-quality tier's Python-reference coverage (the staged r17
differential covers the fixture-scale oracle parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF
from database_collector_spark import gates
from database_collector_spark.operators import expectations


def test_column_profile_counts_nulls_and_distincts(spark):
    df = spark.createDataFrame(
        [
            Row(a=1, b="x"),
            Row(a=1, b=None),
            Row(a=2, b="y"),
            Row(a=None, b="y"),
        ]
    )
    got = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["null_frac"], r["n_distinct"])
        for r in expectations.column_profile(df).collect()
    }
    assert got == {
        "a": (4, 1, 0.25, 2),
        "b": (4, 1, 0.25, 2),
    }


def test_column_profile_rejects_unsafe_names_and_empty(spark):
    df = spark.createDataFrame([Row(a=1)])
    with pytest.raises(ValueError, match="no columns"):
        expectations.column_profile(df, [])
    bad = df.select(F.col("a").alias("a b"))
    with pytest.raises(ValueError, match="safe identifier"):
        expectations.column_profile(bad)


def test_referential_integrity_counts_orphans_and_null_keys(spark):
    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=1), Row(fk=2), Row(fk=9), Row(fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    r = expectations.referential_integrity(child, "fk", parent, "pk").collect()[0]
    assert r["n_child_rows"] == 5
    assert r["n_child_keyed"] == 4  # the NULL key is unkeyed, not orphaned
    assert r["n_orphan_rows"] == 1 and r["n_orphan_keys"] == 1  # fk=9
    assert r["orphan_frac"] == 0.25


def test_referential_integrity_all_keyed_clean(spark):
    child = spark.createDataFrame([Row(fk=1), Row(fk=2)])
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    r = expectations.referential_integrity(child, "fk", parent, "pk").collect()[0]
    assert r["n_orphan_rows"] == 0 and r["orphan_frac"] == 0.0


def test_key_uniqueness_verdicts_and_null_key_grouping(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, g="a"),
            Row(id=2, g="a"),
            Row(id=3, g=None),
            Row(id=4, g=None),
        ]
    )
    got = {
        r["key_name"]: r
        for r in expectations.key_uniqueness(
            df, {"id": ["id"], "g": ["g"], "pair": ["id", "g"]}
        ).collect()
    }
    assert got["id"]["is_unique"] is True and got["id"]["n_keys"] == 4
    # two NULL g rows group together: duplicates under GROUP BY semantics
    assert got["g"]["is_unique"] is False
    assert got["g"]["n_dup_keys"] == 2 and got["g"]["n_dup_rows"] == 4
    assert got["pair"]["is_unique"] is True
    with pytest.raises(ValueError, match="no key sets"):
        expectations.key_uniqueness(df, {})


def test_key_uniqueness_accepts_expression_keys(spark):
    df = spark.createDataFrame([Row(t="x"), Row(t="x"), Row(t="y")])
    r = expectations.key_uniqueness(df, {"md5": [F.md5("t")]}).collect()[0]
    assert (r["n_keys"], r["n_dup_keys"], r["n_dup_rows"], r["is_unique"]) == (
        2,
        1,
        2,
        False,
    )


def test_key_uniqueness_count_alias_survives_reserved_name_collisions(spark):
    # a key column literally named _kq_n (or a case variant — Spark
    # resolves names case-insensitively) used to make the internal count
    # alias ambiguous; the probe-and-uniquify loop must keep the audit
    # correct regardless of the caller's column names (r14 ADVICE)
    df = spark.createDataFrame(
        [Row(_kq_n="a"), Row(_kq_n="a"), Row(_kq_n="b")]
    )
    r = expectations.key_uniqueness(df, {"k": ["_kq_n"]}).collect()[0]
    assert (r["n_rows"], r["n_keys"], r["n_dup_keys"], r["n_dup_rows"]) == (
        3,
        2,
        1,
        2,
    )
    assert r["is_unique"] is False
    df2 = spark.createDataFrame([Row(_KQ_N=1, v=1), Row(_KQ_N=1, v=2)])
    r2 = expectations.key_uniqueness(df2, {"k": ["_KQ_N"]}).collect()[0]
    assert (r2["n_keys"], r2["n_dup_rows"], r2["is_unique"]) == (1, 2, False)


def test_verify_passes_and_returns_full_report(spark):
    df = spark.createDataFrame(
        [Row(id=1, fk=10), Row(id=2, fk=20), Row(id=3, fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=10), Row(pk=20)])
    report = expectations.verify(
        df,
        max_null_frac={"id": 0.0, "fk": 0.5},
        unique_keys={"id": ["id"]},
        references={"fk->pk": ("fk", parent, "pk", 0.0)},
    )
    assert all(e["passed"] for e in report)
    assert {e["check"] for e in report} == {
        "max_null_frac",
        "unique_key",
        "referential_integrity",
    }
    # measured rows travel with the report
    fk_row = next(e for e in report if e["subject"] == "fk")
    assert fk_row["measured"]["n_nulls"] == 1


def test_verify_fails_fast_with_violations_attached(spark):
    df = spark.createDataFrame(
        [Row(id=1, fk=99), Row(id=1, fk=10), Row(id=2, fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=10)])
    with pytest.raises(expectations.ExpectationViolation) as exc:
        expectations.verify(
            df,
            max_null_frac={"fk": 0.1},
            unique_keys={"id": ["id"]},
            references={"fk->pk": ("fk", parent, "pk", 0.0)},
        )
    v = exc.value.violations
    assert {e["check"] for e in v} == {
        "max_null_frac",
        "unique_key",
        "referential_integrity",
    }
    dup = next(e for e in v if e["check"] == "unique_key")
    assert dup["measured"]["n_dup_keys"] == 1
    orphan = next(e for e in v if e["check"] == "referential_integrity")
    assert orphan["measured"]["n_orphan_rows"] == 1


def test_verify_zero_bound_is_exact_not_rounded(spark):
    # review: round(n_nulls/n_rows, 6) = 0.0 for tiny fractions must
    # NOT let a 0.0 completeness/integrity bound pass — the comparison
    # rides the unrounded fraction of the exact integers
    big = spark.range(3_000_000).select(
        F.col("id"),
        F.when(F.col("id") == 7, None).otherwise(F.col("id")).alias("v"),
        F.when(F.col("id") == 7, -1).otherwise(F.lit(1)).alias("fk"),
    )
    parent = spark.createDataFrame([Row(pk=1)])
    with pytest.raises(expectations.ExpectationViolation) as exc:
        expectations.verify(big, max_null_frac={"v": 0.0})
    [v] = exc.value.violations
    assert v["measured"]["n_nulls"] == 1
    # the rounded report fraction IS 0.0 — which is exactly why the
    # check must not use it
    assert v["measured"]["null_frac"] == 0.0
    with pytest.raises(expectations.ExpectationViolation) as exc:
        expectations.verify(
            big, references={"fk->pk": ("fk", parent, "pk", 0.0)}
        )
    [v] = exc.value.violations
    assert v["measured"]["n_orphan_rows"] == 1


def test_verify_exact_boundary_bound_passes(spark):
    # second review pass: bound*count in doubles (0.29*100 = 28.999...)
    # mis-failed an exactly-at-bound table; the unrounded-fraction
    # comparison must accept 29 nulls in 100 rows at bound 0.29
    rows = [Row(v=None if i < 29 else i) for i in range(100)]
    df = spark.createDataFrame(rows, "v int")
    report = expectations.verify(df, max_null_frac={"v": 0.29})
    [e] = report
    assert e["passed"] and e["measured"]["n_nulls"] == 29


def test_verify_rejects_malformed_bounds_and_specs(spark):
    df = spark.createDataFrame([Row(v=1)])
    with pytest.raises(ValueError, match="not a number in \\[0, 1\\]"):
        expectations.verify(df, max_null_frac={"v": 5})  # percent typo
    with pytest.raises(ValueError, match="not a number in \\[0, 1\\]"):
        expectations.verify(df, max_null_frac={"v": -0.1})
    with pytest.raises(ValueError, match="must be a 4-tuple"):
        expectations.verify(df, references={"r": ("v", df, "v")})


def test_column_profile_without_distinct_skips_the_expand(spark):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=None, b="x")])
    rows = {
        r["col_name"]: r.asDict()
        for r in expectations.column_profile(
            df, ["a", "b"], with_distinct=False
        ).collect()
    }
    assert rows["a"]["n_nulls"] == 1 and rows["a"]["n_distinct"] is None
    assert rows["b"]["n_nulls"] == 0 and rows["b"]["n_distinct"] is None
    # the cheap mode must not plan the multi-distinct Expand
    plan = (
        expectations.column_profile(df, ["a", "b"], with_distinct=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    full = (
        expectations.column_profile(df, ["a", "b"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in full  # the exact-profile price, still there on demand


def test_verify_bound_types_bool_rejected_decimal_accepted(spark):
    from decimal import Decimal

    df = spark.createDataFrame([Row(v=1)])
    with pytest.raises(ValueError, match="not a number in \\[0, 1\\]"):
        expectations.verify(df, max_null_frac={"v": True})
    report = expectations.verify(df, max_null_frac={"v": Decimal("0.05")})
    assert report[0]["passed"]


def test_table_profile_is_one_scan_one_expand(spark):
    """The profile's 100 TB contract: EVERY column's count/distinct
    rides ONE pass — one scan of orders, the multi-distinct Expand, and
    no per-column re-aggregation chain (adding a column must never add
    a pass)."""
    plan = (
        gates.all_queries()["table_profile"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") + plan.count("FileScan") >= 1
    # exactly one scan: a per-column loop would show one per column
    assert plan.count("orders.parquet") == 1, plan[:2000]
    assert "Expand" in plan


def test_fk_orphan_report_joins_compressed_keys_not_fact_rows(spark):
    """The anti join must consume the DISTINCT-key compressions: both
    join inputs are aggregates, so no plan path joins raw fact rows."""
    plan = (
        gates.all_queries()["fk_orphan_report"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan
    assert "BatchEvalPython" not in plan
    # scalar totals attach via bounded single-row joins, and the only
    # cartesian-free mechanism for those is broadcast
    assert "CartesianProduct" not in plan


def test_key_uniqueness_verdicts_and_conservation(spark):
    """The fixture exercises both verdicts: doc_id is a key,
    (lang, source) is the deliberate non-key. content_md5 is
    SF-dependent (exact text duplicates exist at sf0.1 but not
    sf0.001), so only its self-consistency is pinned here — each dup
    key contributes at least 2 dup rows."""
    rows = {
        r["key_name"]: r
        for r in gates.all_queries()["key_uniqueness"](spark, SF).collect()
    }
    assert rows["doc_id"]["is_unique"] is True
    assert rows["doc_id"]["n_dup_rows"] == 0
    assert rows["lang_source"]["is_unique"] is False
    assert rows["lang_source"]["n_dup_rows"] > rows["lang_source"]["n_dup_keys"]
    cm = rows["content_md5"]
    assert cm["n_dup_rows"] >= 2 * cm["n_dup_keys"]
    assert cm["is_unique"] is (cm["n_dup_keys"] == 0)
    # conservation: every key set partitions the same row count
    n = {r["n_rows"] for r in rows.values()}
    assert len(n) == 1
